"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_hash(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


class TailPercentile(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (100, 101, 150, 1000, 4321):
            xs = list(range(n))
            pct = stats.tail_percentile(n)
            tail = stats.nearest_rank(xs, pct)
            self.assertGreaterEqual(sum(x > tail for x in xs), 10, n)
            # one percentile higher leaves fewer than ten beyond
            if pct < 99:
                self.assertLess(sum(x > stats.nearest_rank(xs, pct + 1) for x in xs), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_small_passes_use_p90(self):
        for n in (1, 3, 20, 26, 99):
            self.assertEqual(stats.tail_percentile(n), 90)
        self.assertEqual(stats.nearest_rank(list(range(20)), 90), 17)
        self.assertEqual(stats.nearest_rank([5.0, 1.0, 3.0], 90), 5.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(0)

    def test_percentile_is_fixed_by_one_pass(self):
        ops = [{"name": f"q{i}", "s": float(i), "ok": True} for i in range(150)]
        one = stats.latency([{"ops": ops}], 150)
        two = stats.latency([{"ops": ops}, {"ops": ops}], 150)
        self.assertEqual(one, two)

    def test_each_operation_counts_at_its_best(self):
        slow = [{"name": f"q{i}", "s": 2.0, "ok": True} for i in range(10)]
        fast = [{"name": f"q{i}", "s": 1.0, "ok": True} for i in range(10)]
        self.assertEqual(stats.latency([{"ops": slow}, {"ops": fast}], 10)[:2],
                         (1.0, 1.0))


class FailureCounting(unittest.TestCase):
    golden = {"a": "d1", "b": "d2"}

    def op(self, name, ok=True, digest="", s=0.5):
        return {"name": name, "ok": ok, "digest": digest, "s": s, "error": ""}

    def test_clean_pass(self):
        ops = [self.op("a", digest="d1"), self.op("b", digest="d2")]
        self.assertEqual(stats.op_failures(ops, self.golden), [])

    def test_each_kind_of_failure(self):
        ops = [self.op("a", digest="zz"), self.op("b", ok=False, digest="d2"),
               self.op("unpinned", digest="d1")]
        self.assertEqual(stats.op_failures(ops, self.golden), ["a", "b", "unpinned"])

    def test_a_crash_is_never_a_fast_operation(self):
        ops = [self.op("a", digest="d1", s=1.0), self.op("b", digest="d2", s=1.0),
               dict(self.op("c", ok=False, s=0.001), failed=True)]
        ops += [self.op(f"x{i}", s=1.0) for i in range(10)]
        p50, tail, _ = stats.latency([{"ops": ops}], len(ops))
        self.assertEqual((p50, tail), (1.0, 1.0))
        # nor does a crash in one pass stand in for the operation's best time
        again = [dict(o, s=2.0) for o in ops]
        self.assertNotIn("c", stats.best_times([{"ops": ops}, {"ops": again}]))

    def test_a_pass_with_a_failure_never_sets_the_suite_time(self):
        clean = {"seconds": 2.0, "cpu": 4.0, "ops": [self.op("a", digest="d1")]}
        crashed = {"seconds": 0.1, "cpu": 0.2, "ops": [self.op("a", ok=False)]}
        wrong = {"seconds": 0.1, "cpu": 0.2, "ops": [dict(self.op("a"), failed=True)]}
        self.assertEqual(stats.clean_passes([crashed, clean, wrong]), [clean])
        self.assertEqual(stats.clean_passes([crashed]), [crashed])

    def test_suite_time_counts_each_operation_at_its_best(self):
        one = {"ops": [self.op("a", s=1.0), self.op("b", s=3.0)]}
        two = {"ops": [self.op("a", s=2.0), self.op("b", s=2.0)]}
        self.assertEqual(stats.suite_seconds([one, two]), 3.0)

    def test_a_crash_never_shortens_the_suite_time(self):
        crashed = {"ops": [self.op("a", s=1.0), self.op("b", ok=False, s=0.01)]}
        clean = {"ops": [self.op("a", s=1.0), self.op("b", s=2.0)]}
        self.assertEqual(stats.suite_seconds([crashed, clean]), 3.0)
        # an operation that never ran cleanly counts at its slowest attempt
        wrong = {"ops": [self.op("a", s=1.0), dict(self.op("b", s=0.5), failed=True)]}
        self.assertEqual(stats.suite_seconds([crashed, wrong]), 1.5)

    def test_wrong_output_is_excluded_from_latency(self):
        ops = [dict(self.op(f"q{i}", s=1.0)) for i in range(12)]
        ops.append(dict(self.op("bad", s=0.01), failed=True))
        self.assertEqual(stats.latency([{"ops": ops}], 13)[0], 1.0)


class Generators(unittest.TestCase):
    def test_pages_are_determined_by_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a = gen.make_pages(os.path.join(t, "a"), 7, 2, pages_per_set=2, rows_per_page=200)
            b = gen.make_pages(os.path.join(t, "b"), 7, 2, pages_per_set=2, rows_per_page=200)
            c = gen.make_pages(os.path.join(t, "c"), 8, 2, pages_per_set=2, rows_per_page=200)
            self.assertEqual(a, b)
            self.assertEqual(tree_hash(os.path.join(t, "a")), tree_hash(os.path.join(t, "b")))
            self.assertNotEqual(tree_hash(os.path.join(t, "a")), tree_hash(os.path.join(t, "c")))

    def test_commodity_keys_are_distinct(self):
        names = gen.commodities()
        self.assertEqual(len(names), 316)
        self.assertEqual(len({gen.safe_name(n) for n in names}), 316)

    def test_pages_carry_the_traits_the_pipeline_must_handle(self):
        with tempfile.TemporaryDirectory() as t:
            gen.make_pages(t, 3, 1, pages_per_set=4, rows_per_page=500)
            rows = [r for f in sorted(os.listdir(t))
                    for r in csv.DictReader(open(os.path.join(t, f), newline=""))]
        self.assertTrue(any("," in r["Market"] for r in rows))
        self.assertTrue(any("-" in r["Arrival_Date"] for r in rows))
        self.assertTrue(any("/" in r["Arrival_Date"] for r in rows))
        missing = sum(r["Modal_Price"] == "" for r in rows) / len(rows)
        self.assertGreater(missing, 0.002)
        self.assertLess(missing, 0.03)


class IngestInvariants(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sets = gen.make_pages(self.tmp.name, 5, 2, pages_per_set=3, rows_per_page=400)

    def tearDown(self):
        self.tmp.cleanup()

    def reference_landing(self):
        """Land the pages the way the pipeline should, in plain Python."""
        landing, stream_rows, stream_paise = {}, 0, 0
        for name in self.sets:
            kept = {}
            for f in sorted(os.listdir(self.tmp.name)):
                if not f.startswith(name):
                    continue
                for r in csv.DictReader(open(os.path.join(self.tmp.name, f), newline="")):
                    if not r["Modal_Price"]:
                        continue
                    d = r["Arrival_Date"]
                    day = d if "-" in d else "-".join(reversed(d.split("/")))
                    key = tuple(r[k] for k in gen.HEADER[:6]) + (day,)
                    cand = (float(r["Modal_Price"]), float(r["Min_Price"]))
                    stream_rows += 1
                    stream_paise += round(cand[0] * 100)
                    kept[key] = min(kept.get(key, cand), cand)
            landing[name] = (len(kept), len(kept), sum(round(m * 100) for m, _ in kept.values()))
        landing["stream"] = (stream_rows, stream_paise)
        return landing

    def test_prediction_matches_a_reference_landing(self):
        landing = self.reference_landing()
        self.assertEqual(stats.ingest_failures(landing, self.sets), ([], True))

    def test_duplicates_are_present_to_dedup(self):
        for s in self.sets.values():
            self.assertLess(s["dedup_rows"], s["valid_rows"])

    def test_a_landing_with_duplicate_keys_fails(self):
        landing = self.reference_landing()
        rows, keys, paise = landing["s00"]
        landing["s00"] = (rows + 1, keys, paise)
        self.assertEqual(stats.ingest_failures(landing, self.sets), (["batch:s00"], True))

    def test_throughput_counts_the_rows_landed(self):
        with tempfile.TemporaryDirectory() as t:
            p = {"landing": t, "microbatch_s": [1.5, 2.5],
                 "landed": {"s00": (90, 90, 9000), "s01": None, "stream": (95, 9500)},
                 "ops": [{"name": "batch:s00", "s": 1.0, "rows": 100},
                         {"name": "batch:s01", "s": 1.0, "rows": 100},
                         {"name": "stream", "s": 2.0, "rows": 100}]}
            f = run.ingest_figures(p)
        self.assertEqual(f["ingest.rows_per_s"], 45.0)
        self.assertEqual(f["streaming.rows_per_s"], 47.5)
        self.assertEqual(f["streaming.microbatch_p50_s"], 2.0)

    def test_a_short_stream_landing_fails(self):
        landing = self.reference_landing()
        rows, paise = landing["stream"]
        landing["stream"] = (rows - 1, paise)
        self.assertEqual(stats.ingest_failures(landing, self.sets)[1], False)


if __name__ == "__main__":
    unittest.main()
