"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s graftbench/tests -v

The last test builds the program and runs the JVM harness on synthetic
ops (about a minute); the others are pure Python.
"""
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs), (90, 90))
        self.assertEqual(metrics.tail_percentile(xs[:20]), (50, 10))
        self.assertEqual(metrics.tail_percentile(xs[:21])[0], 52)

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile(list(range(10))),
                         (None, None))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_self_time_is_duration_minus_children(self):
        spans = [
            {"id": "p", "parent": "", "start_ns": 0, "end_ns": 100},
            {"id": "a", "parent": "p", "start_ns": 10, "end_ns": 40},
            {"id": "b", "parent": "p", "start_ns": 30, "end_ns": 60},
            {"id": "c", "parent": "a", "start_ns": 15, "end_ns": 20},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"p": 50, "a": 25, "b": 30, "c": 5})

    def test_table_rows_add_up_to_pass_time(self):
        spans = [
            {"id": "P", "parent": "R", "start_ns": 0, "end_ns": 1000},
            {"id": "o", "parent": "P", "start_ns": 100, "end_ns": 900},
            {"id": "c", "parent": "o", "start_ns": 100, "end_ns": 300},
            {"id": "e", "parent": "o", "start_ns": 300, "end_ns": 900},
        ]
        ops = [{"layer": "etl", "span": "o", "construct_span": "c",
                "execute_span": "e"}]
        t = metrics.self_time_table(spans, ops, [{"span": "P"}])
        self.assertAlmostEqual(sum(t.values()), 1000 / 1e9)
        self.assertAlmostEqual(t["etl.construct"], 200 / 1e9)
        self.assertAlmostEqual(t["harness.between_ops"], 200 / 1e9)


class FailShare(unittest.TestCase):
    def test_throws_and_oracle_mismatches_count(self):
        raw = {"check_failed": [], "ops": [
            {"phase": "warmup", "op": "a", "error": "x"},
            {"phase": "timed", "op": "a", "error": ""},
            {"phase": "timed", "op": "b", "error": "boom"},
            {"phase": "timed", "op": "c", "error": ""},
            {"phase": "timed", "op": "c", "error": ""},
        ]}
        attempted, failed, bad = metrics.failures(
            raw, {"a": None, "b": None, "c": "value mismatch"})
        self.assertEqual((attempted, failed, bad), (4, 3, {"c"}))


class OracleCompare(unittest.TestCase):
    def test_row_order_and_negative_zero_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, -0.0, 2.0]})
        b = pd.DataFrame({"v": [2.0, 0.5, 0.0], "k": [3, 1, 2]})
        self.assertIsNone(check.compare(a, b))

    def test_value_count_and_dtype_differences_fail(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]})
        self.assertEqual(check.compare(a, a.assign(v=[0.5, 1.0000001])),
                         "value mismatch")
        self.assertIn("row count", check.compare(a, a.iloc[:1]))
        self.assertIn("dtype", check.compare(
            a, a.assign(k=a["k"].astype("int32"))))

    def test_duplicate_rows_are_counted(self):
        a = pd.DataFrame({"k": [1, 1, 2]})
        b = pd.DataFrame({"k": [1, 2, 2]})
        self.assertEqual(check.compare(a, b), "value mismatch")


class Inputs(unittest.TestCase):
    def setUp(self):
        self.dirs = [tempfile.mkdtemp() for _ in range(3)]

    def tearDown(self):
        for d in self.dirs:
            shutil.rmtree(d)

    def test_seeded_and_key_integrity(self):
        rows = {"customer": 300, "orders": 3000, "events": 2000,
                "documents": 2000, "embeddings": 100}
        n1 = gen.generate(self.dirs[0], rows, 7)
        gen.generate(self.dirs[1], rows, 7)
        gen.generate(self.dirs[2], rows, 8)
        for t in n1:
            a = pq.read_table(f"{self.dirs[0]}/{t}.parquet")
            self.assertTrue(a.equals(pq.read_table(
                f"{self.dirs[1]}/{t}.parquet")), t)
            self.assertFalse(a.equals(pq.read_table(
                f"{self.dirs[2]}/{t}.parquet")), t)
        li = pd.read_parquet(f"{self.dirs[0]}/lineitem.parquet")
        self.assertTrue(li["l_orderkey"].between(0, 2999).all())
        self.assertFalse(li.duplicated(["l_orderkey", "l_linenumber"]).any())
        docs = pd.read_parquet(f"{self.dirs[0]}/documents.parquet")
        self.assertTrue((docs["n_chars"] == docs["text"].str.len()).all())
        exact = docs["text"].duplicated().mean()
        near = docs["text"].str.endswith(" dup").mean()
        self.assertTrue(0.01 < exact < 0.04, exact)
        self.assertTrue(0.03 < near < 0.08, near)
        o = pd.read_parquet(f"{self.dirs[0]}/orders.parquet")
        hot = (o["o_custkey"] < 3).mean()
        self.assertTrue(0.15 < hot < 0.26, hot)
        emb = pd.read_parquet(f"{self.dirs[0]}/embeddings.parquet")
        norms = np.linalg.norm(np.stack(emb["embedding"]), axis=1)
        self.assertTrue(np.allclose(norms, 1.0, atol=1e-5))


class HarnessRun(unittest.TestCase):
    """The JVM harness on synthetic ops with known job counts."""

    @classmethod
    def setUpClass(cls):
        cls.work = tempfile.mkdtemp(dir=build.build_dir()
                                    if os.path.isdir(build.build_dir())
                                    else None)
        plan = [("selftest.two_jobs", "etl", "noop"),
                ("selftest.no_jobs", "qa", "parquet"),
                ("selftest.fail", "text", "noop")]
        os.makedirs(os.path.join(cls.work, "data"))
        cls.raw = run.run_harness(build.build(), cls.work, plan,
                                  os.path.join(cls.work, "data"), 0.1, 1, 170)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work)

    def traced(self, op):
        return [o for o in self.raw["ops"]
                if o["op"] == op and o["traced"]]

    def test_jobs_attributed_per_span(self):
        self.assertEqual(self.raw["unattributed_jobs"], 0)
        for op, construct_jobs in (("selftest.two_jobs", 2),
                                   ("selftest.no_jobs", 0)):
            rows = self.traced(op)
            self.assertGreaterEqual(len(rows), 2)
            for o in rows:
                c = o["counters"]
                self.assertEqual(c[o["construct_span"]]["jobs"],
                                 construct_jobs, op)
                self.assertEqual(c[o["execute_span"]]["jobs"], 1, op)
                self.assertGreaterEqual(c[o["execute_span"]]["tasks"], 1)

    def test_construct_plus_execute_is_op_wall(self):
        spans = {s["id"]: s for s in self.raw["spans"]}
        dur = lambda i: spans[i]["end_ns"] - spans[i]["start_ns"]
        for o in self.raw["ops"]:
            self.assertEqual(dur(o["span"]), dur(o["construct_span"])
                             + dur(o["execute_span"]))
            self.assertAlmostEqual(o["wall_s"],
                                   o["construct_s"] + o["execute_s"])

    def test_warmup_stops_when_levelled_or_spent(self):
        w = self.raw["warmup"]
        p = w["pass_s"]
        if w["levelled"]:
            self.assertGreaterEqual(len(p), 3)
            self.assertLessEqual(abs(p[-1] - p[-2]), run.LEVEL_TOL * p[-2])
        else:
            self.assertGreaterEqual(sum(p[1:]), run.WARMUP_S)
        # no pass after the rule first held or the budget was spent
        self.assertLess(sum(p[1:-1]), run.WARMUP_S)
        for i in range(2, len(p) - 1):
            self.assertGreater(abs(p[i] - p[i - 1]), run.LEVEL_TOL * p[i - 1])

    def test_failing_op_counts_in_fail_share(self):
        attempted, failed, _ = metrics.failures(
            self.raw, {"selftest.two_jobs": None, "selftest.no_jobs": None,
                       "selftest.fail": None})
        timed = [o for o in self.raw["ops"] if o["phase"] == "timed"]
        self.assertEqual(attempted, len(timed))
        self.assertEqual(failed, len(timed) // 3)
        self.assertEqual(self.raw["check_failed"], ["selftest.fail"])
        self.assertTrue(all("planted" in o["error"]
                            for o in self.raw["ops"]
                            if o["op"] == "selftest.fail"))


if __name__ == "__main__":
    unittest.main()
