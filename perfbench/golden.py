"""Pin ``golden.json``: the expected output of every benchmarked query.

    python3 perfbench/run.py --golden

Runs each query workload twice in dump mode (two query orders), writes
every output as parquet and compares it with the query's DuckDB oracle SQL
over the same tables, as the repository's oracle check does
(columns sorted by name, declared types equal, values equal). A query whose
output matched its oracle, with the same digest in both dumps, is pinned by
that digest. Any other query (no oracle, a mismatch, or a digest that
depends on the order) is reported and not pinned, and the command exits
non-zero.
"""
import datetime
import json
import math
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def oracle_mismatch(con, dump, sql):
    """None if the dumped output equals the oracle's, else the difference."""
    got = con.sql(f"SELECT * FROM read_parquet('{dump}/*.parquet')")
    exp = con.sql(sql)
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns: spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
    gt = {c: str(t) for c, t in zip(got.columns, got.types)}
    et = {c: str(t) for c, t in zip(exp.columns, exp.types)}
    if gt != et:
        return f"types: spark={gt} oracle={et}"
    gi = [got.columns.index(c) for c in sorted(got.columns)]
    ei = [exp.columns.index(c) for c in sorted(exp.columns)]
    g = sorted(tuple(_norm(r[i]) for i in gi) for r in got.fetchall())
    e = sorted(tuple(_norm(r[i]) for i in ei) for r in exp.fetchall())
    if g != e:
        diff = next(((a, b) for a, b in zip(g, e) if a != b), (len(g), len(e)))
        return f"values ({len(g)} vs {len(e)} rows), first difference {diff}"
    return None


def pin(classpath, data):
    from run import BUILD, WORKLOADS, run_jvm
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pinned, bad = {}, {}
    for workload in (w for w, spec in WORKLOADS.items() if "queries" in spec):
        names = list(WORKLOADS[workload]["queries"])
        dumps = []
        for order in (names, names[::-1]):
            work = os.path.join(BUILD, f"golden-{workload}-{len(dumps)}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            dump = os.path.join(work, "dump")
            rec = run_jvm(classpath, work, [
                "--workload", workload, "--mode", "dump", "--dump", dump, "--data", data,
                "--ops", ",".join(order), "--seconds", "0", "--trace", "0"])
            dumps.append((dump, {o["name"]: o for o in rec["passes"][0]["ops"]}))
        oracles = json.load(open(os.path.join(dumps[0][0], "oracle_sql.json")))
        for name in names:
            a, b = dumps[0][1][name], dumps[1][1][name]
            if not (a["ok"] and b["ok"]):
                bad[name] = a["error"] or b["error"]
            elif name not in oracles:
                bad[name] = "no oracle SQL"
            elif a["digest"] != b["digest"]:
                bad[name] = "output differs between two query orders"
            else:
                diff = oracle_mismatch(con, os.path.join(dumps[0][0], name), oracles[name])
                if diff:
                    bad[name] = diff
                else:
                    pinned[name] = a["digest"]
            print(f"{name:34s} {'pinned' if name in pinned else 'FAILED: ' + bad[name]}")
        for d, _ in dumps:
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    json.dump({"queries": dict(sorted(pinned.items()))},
              open(os.path.join(HERE, "golden.json"), "w"), indent=1)
    print(f"pinned {len(pinned)} queries, {len(bad)} failed")
    if bad:
        sys.exit(1)
