"""The benchmark's statistics and output checks: pure functions, no Spark."""
import math
import statistics

TAIL_BEYOND = 10
TAIL_FLOOR = 90


def tail_percentile(n):
    """The highest whole percentile with at least ten of ``n`` samples beyond
    it, but never below p90: a pass of fewer than 100 operations cannot put
    ten samples beyond p90, and a lower "tail" would be the body."""
    if n <= 0:
        raise ValueError("no samples")
    return max(TAIL_FLOOR, math.floor(100 * (n - TAIL_BEYOND) / n))


def nearest_rank(values, pct):
    """Nearest-rank percentile ``pct`` (0-100] of ``values``."""
    xs = sorted(values)
    return xs[max(0, math.ceil(pct / 100 * len(xs)) - 1)]


def op_failures(ops, golden):
    """The failed operations of one pass of queries: those that raised, and
    those whose output digest differs from the DuckDB-verified one pinned in
    ``golden`` (a query missing there fails too: its output is unchecked)."""
    return [op["name"] for op in ops if not op["ok"] or op["digest"] != golden.get(op["name"])]


def best_times(passes, key="s"):
    """Each operation's best ``key`` (wall ``s`` or ``cpu`` seconds) over the
    timed passes: the min-of-N that graft.Bench also uses against transient
    host contention. Failed runs of an operation never count: a crash is
    not a fast operation."""
    best = {}
    for p in passes:
        for op in p["ops"]:
            if op["ok"] and not op.get("failed"):
                best[op["name"]] = min(best.get(op["name"], math.inf), op[key])
    return best


def suite_seconds(passes, key="s"):
    """One pass at each operation's best ``key`` time: the sum of
    ``best_times``, graft.Bench's min-of-N total. Over several passes this
    sets aside a burst of host contention, which slows one run of an
    operation and not the others. An operation with no clean run counts
    at its slowest failed attempt (the run is then reported as not correct
    anyway)."""
    best = best_times(passes, key)
    for op in (o for p in passes for o in p["ops"] if o["name"] not in best):
        best[op["name"]] = max(o[key] for p in passes for o in p["ops"] if o["name"] == op["name"])
    return sum(best.values())


def clean_passes(passes):
    """The passes in which no operation failed, which alone may stand for
    the time of a whole pass; all passes if every one had a failure (the
    run is then reported as not correct anyway)."""
    clean = [p for p in passes if not any(o.get("failed") or not o["ok"] for o in p["ops"])]
    return clean or passes


def latency(passes, per_pass, key="s"):
    """p50 and tail of the operations' best times.

    The tail percentile is fixed by the number of operations in one pass,
    so a run that fits more passes reports the same percentile.
    """
    xs = list(best_times(passes, key).values()) or [math.nan]
    pct = tail_percentile(per_pass)
    return statistics.median(xs), nearest_rank(xs, pct), pct


def setup_seconds(record):
    """JVM start, the cold session set-up and the warm pass."""
    return record["jvm_start_s"] + record["session_setup_s"] + record["warm_s"]


def ingest_failures(landing, sets):
    """Failed operations of one ingest pass, from its landing summary.

    ``landing`` maps each set name to the batch landing's (rows, distinct
    natural keys, modal paise) and holds the stream landing's (rows, modal
    paise) under ``"stream"``; ``sets`` is the generator's prediction. A
    batch landing must hold exactly the deduplicated rows with no repeated
    natural key and the lowest modal price kept; the stream (no dedup)
    must hold every valid row. Returns the failed batch operations and
    whether the stream landing is right.
    """
    failed = []
    for name, want in sets.items():
        rows, keys, paise = landing.get(name) or (None, None, None)
        if (rows, keys, paise) != (want["dedup_rows"], want["dedup_rows"], want["dedup_modal_paise"]):
            failed.append(f"batch:{name}")
    want_stream = (sum(s["valid_rows"] for s in sets.values()),
                   sum(s["valid_modal_paise"] for s in sets.values()))
    stream_ok = tuple(landing.get("stream") or ()) == want_stream
    return failed, stream_ok
