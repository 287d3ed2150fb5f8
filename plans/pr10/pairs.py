#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

    python3 plans/pr10/pairs.py PARENT_CHECKOUT CHANGE_CHECKOUT \
        --workload ingest --pairs 10 --seconds 15 > runs.jsonl

Pair i runs both checkouts on seed i (1-based), the parent first in odd
pairs and the change first in even ones. Each run is one
`python3 perfbench/run.py --workload W --seed i --seconds S --trace 0`
in that checkout; its last stdout line (the benchmark's JSON) is kept
with the host's CPU steal share over the run, read from /proc/stat.
Every run prints one JSON line; a summary of each end-to-end metric
(per-side median and quartiles, pairs won by the change) goes to
stderr and, with --summary FILE, to FILE.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]  # total jiffies, steal


def run(checkout, workload, seed, seconds):
    t0, s0 = cpu_times()
    w0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    t1, s1 = cpu_times()
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if p.returncode == 0 and lines else {"correct": False, "error": p.stderr[-2000:]}
    out["steal"] = (s1 - s0) / max(1, t1 - t0)
    out["wall_s"] = time.time() - w0
    return out


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="ingest")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--summary")
    a = ap.parse_args()
    runs = []
    for i in range(1, a.pairs + 1):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2 == 0:
            order.reverse()
        for side, checkout in order:
            r = dict(run(checkout, a.workload, i, a.seconds), pair=i, side=side, seed=i, workload=a.workload)
            runs.append(r)
            print(json.dumps(r), flush=True)
    lines = []
    for metric in ("suite_cpu_s", "setup_s"):
        val = {(r["pair"], r["side"]): r["metrics"][metric]["value"] for r in runs if "metrics" in r}
        par = [val[(i, "parent")] for i in range(1, a.pairs + 1) if (i, "parent") in val]
        chg = [val[(i, "change")] for i in range(1, a.pairs + 1) if (i, "change") in val]
        wins = sum(1 for i in range(1, a.pairs + 1)
                   if (i, "parent") in val and (i, "change") in val and val[(i, "change")] < val[(i, "parent")])
        pq, cq = quartiles(par), quartiles(chg)
        lines.append(f"{a.workload} {metric}: parent median {pq[1]:.2f} (q1 {pq[0]:.2f}, q3 {pq[2]:.2f}, "
                     f"iqr {pq[2] - pq[0]:.2f}); change median {cq[1]:.2f} (q1 {cq[0]:.2f}, q3 {cq[2]:.2f}); "
                     f"change/parent {cq[1] / pq[1] - 1:+.1%}; change lower in {wins} of {len(par)} pairs")
    bad = [f"{r['side']} pair {r['pair']}" for r in runs if not r.get("correct") or r.get("failed", 1)]
    steal = [r["steal"] for r in runs]
    lines.append(f"runs not correct or with failed ops: {bad or 'none'}; "
                 f"steal share per run: max {max(steal):.1%}, median {statistics.median(steal):.1%}")
    text = "\n".join(lines) + "\n"
    sys.stderr.write(text)
    if a.summary:
        open(a.summary, "w").write(text)


if __name__ == "__main__":
    main()
