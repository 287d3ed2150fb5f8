#!/usr/bin/env python3
"""Workload benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (``perfbench/build.sbt``); later runs reuse the build from
``.bench_build/`` until a source file changes. The query workloads read the
testdata tables at sf0.01 kept in ``perfbench/data/``. Each run starts one
JVM (``perfbench.Main``), which records raw timings; this script checks
every output, computes the metrics and prints them, the last line being
one JSON object::

    {"correct": true, "attempted": 30, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one extra traced pass. ``--golden`` re-pins ``golden.json``
against the DuckDB oracle (see README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def tree_stamp(paths):
    """Hash of the path, size and mtime of every file in or under ``paths``."""
    files = []
    for base in paths:
        files += [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("build.sbt", "src/main/scala", "conf/log4j2-harness.properties"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} is missing; run from a checkout of the repository")
    stamp = tree_stamp([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                        os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        saved = json.load(open(cp_file))
        if saved["stamp"] == stamp:
            return saved["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's scratch files (file watcher, server socket, JNA, JVM perf
    # data) in the checkout
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
           "export perfbench/Runtime/fullClasspath"]
    log("building:", " ".join(cmd))
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, open(cp_file, "w"))
    return lines[-1].strip()


def run_jvm(classpath, work, args):
    """Run one perfbench.Main and return its record."""
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "conf", "log4j2-harness.properties"),
        "-cp", classpath, "perfbench.Main",
        "--work", work, "--out", out, "--nproc", str(len(os.sched_getaffinity(0))),
        "--launch-ms", str(int(time.time() * 1000))] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the JVM run timed out")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: the JVM run failed (exit {rc})")
    return json.load(open(out))


def landing_summary(landing, sets):
    """Read one ingest pass's landing back with DuckDB; a landing that
    cannot be read (its operation failed) reads as None."""
    import duckdb
    con = duckdb.connect()
    key = "state, district, market, commodity, variety, grade, arrival_date"

    def query(d, cols):
        try:
            return con.sql(f"SELECT {cols} FROM read_parquet('{d}/commodity_key=*/*.parquet', "
                           "hive_partitioning = true)").fetchone()
        except duckdb.Error:
            return None
    paise = "CAST(sum(round(modal_price * 100)) AS BIGINT)"
    summary = {name: query(os.path.join(landing, "batch", name),
                           f"count(*), count(DISTINCT ({key})), {paise}") for name in sets}
    summary["stream"] = query(os.path.join(landing, "stream"), f"count(*), {paise}")
    return summary


def landed_files(landing):
    files = [os.path.join(d, f) for d, _, fs in os.walk(landing) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def check_passes(workload, record, expected, golden):
    """Mark every failed operation in place; return (failed, attempted)."""
    passes = record["passes"] + ([record["traced_pass"]] if "traced_pass" in record else [])
    for p in passes:
        if workload == "ingest":
            p["landed"] = landing_summary(p["landing"], expected)
            bad, stream_ok = stats.ingest_failures(p["landed"], expected)
            bad = set(bad) | (set() if stream_ok else {"stream"})
        else:
            bad = set(stats.op_failures(p["ops"], golden))
        for o in p["ops"]:
            o["failed"] = o["name"] in bad or not o["ok"]
            if o["failed"]:
                log(f"FAILED {o['name']}: {o['error'] or 'output check failed'}")
    ops = [o for p in passes for o in p["ops"]]
    return sum(o["failed"] for o in ops), len(ops)


def ingest_figures(p):
    """Throughput and storage figures of one checked ingest pass, counting
    the rows its landings hold as read back (a landing that cannot be read
    holds none)."""
    batch = [o for o in p["ops"] if o["name"].startswith("batch:")]
    stream = next(o for o in p["ops"] if o["name"] == "stream")
    landed = {k: (v or (0,))[0] for k, v in p["landed"].items()}
    batch_rows = sum(landed[o["name"].split(":", 1)[1]] for o in batch)
    files, size = landed_files(p["landing"])
    return {"ingest.rows_per_s": batch_rows / sum(o["s"] for o in batch),
            "streaming.rows_per_s": landed["stream"] / stream["s"],
            "streaming.microbatch_p50_s": statistics.median(p["microbatch_s"] or [math.nan]),
            "sinks.files_written": files, "sinks.bytes_written": size,
            "sinks.bytes_per_row": size / max(1, batch_rows + landed["stream"])}


def figures(workload, record, per_pass):
    """Everything a run measured, by name: wall and process CPU seconds of
    a pass at each operation's best time, the operations' latencies in
    both, peak memory and, for ``ingest``, throughput and storage (see
    README.md)."""
    passes = record["passes"]
    cpu_p50, cpu_tail, pct = stats.latency(passes, per_pass, key="cpu")
    p50, tail, _ = stats.latency(passes, per_pass)
    whole = stats.clean_passes(passes)
    f = {"setup_s": stats.setup_seconds(record),
         "suite_s": stats.suite_seconds(passes),
         "suite_cpu_s": stats.suite_seconds(passes, "cpu"),
         "op_p50_s": p50, "op_tail_s": tail,
         "cpu.op_p50_s": cpu_p50, "cpu.op_tail_s": cpu_tail,
         "driver.peak_rss_mb": record["peak_rss_mb"]}
    if workload == "ingest":
        f.update(ingest_figures(min(whole, key=lambda p: p["seconds"])))
    return f, pct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", action="store_true", help="re-pin golden.json (see README.md)")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()
    if a.golden:
        import golden as pin
        return pin.pin(classpath, DATA)
    if a.workload is None:
        ap.error("--workload is required")
    golden = json.load(open(os.path.join(HERE, "golden.json")))

    spec = WORKLOADS[a.workload]
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--passes", str(spec["timed_passes"])]
        expected = None
        if a.workload == "ingest":
            pages = os.path.join(work, "pages")
            expected = gen.make_pages(pages, a.seed, 1, pages_per_set=spec["pages"],
                                      rows_per_page=spec["rows_per_page"])
            args += ["--pages", pages, "--sets", ",".join(expected)]
            per_pass = len(expected) + 1  # a batch landing per page set, and the stream
        else:
            # the seed rotates the fixed query list: every seed runs the same
            # neighbours in the same order, so it changes where the loop
            # starts, not which query warms the next
            k = a.seed % len(spec["queries"])
            ops = spec["queries"][k:] + spec["queries"][:k]
            args += ["--data", DATA, "--ops", ",".join(ops)]
            per_pass = len(ops)
        record = run_jvm(classpath, work, args)
        failed, attempted = check_passes(a.workload, record, expected, golden["queries"])
        found, pct = figures(a.workload, record, per_pass)
        log(f"{a.workload} seed={a.seed}: {len(record['passes'])} timed pass(es) of {per_pass} ops; "
            f"tails are p{pct}; failed_frac={failed / attempted:.4f}")
        slow = sorted(((o["s"], o["name"]) for p in record["passes"] for o in p["ops"]), reverse=True)
        log("pass seconds:", " ".join(f"{p['seconds']:.3f}/{p['cpu']:.2f}" for p in record["passes"]),
            f"warm {record['warm_s']:.3f}; slowest:", " ".join(f"{n}={s:.3f}" for s, n in slow[:8]))
        if a.trace:
            traced = record["traced_pass"]
            layers = dict(record["layers"], **found)
            layers["trace.suite_s"] = traced["seconds"]
            # the traced pass against the untraced pass just before it,
            # which ran on the same warm JIT
            layers["trace.overhead_s"] = traced["seconds"] - record["passes"][-1]["seconds"]
            if a.workload == "ingest":
                layers.update(ingest_figures(traced))
            names, found = bench["per_layer"], layers
        else:
            names = bench["end_to_end"]
        # figures the JSON line leaves out, such as the cache metrics that
        # only the iterative workload moves
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        for k in sorted(set(found) - {m["name"] for m in names}):
            print(f"{k:32s} {float(found[k]):14.4f} {units.get(k, '')}".rstrip())
        print(f"{'failed_frac':32s} {failed / attempted:14.4f}")
        values = {m["name"]: float(found.get(m["name"], 0.0)) for m in names}
        for m in names:
            print(f"{m['name']:32s} {values[m['name']]:14.4f} {m['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                      for m in names}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
