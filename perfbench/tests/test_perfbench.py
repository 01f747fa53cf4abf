"""Self-tests of the benchmark's own arithmetic and checks, on tiny
synthetic inputs. No JVM, no engine build.

Run: python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_states_percentile_and_count(self):
        s = stats.timing_summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["tail_pct"], s["n"]), (75.0, 40))
        self.assertAlmostEqual(s["tail"], 30.25)
        self.assertAlmostEqual(s["p50"], 20.5)
        self.assertIsNone(stats.timing_summary([1.0, 2.0])["tail"])


class JobUnion(unittest.TestCase):
    def test_union_clipped_to_the_call(self):
        jobs = [(1, 3), (2, 5), (8, 12), (-1, 0.5), (20, 30)]
        self.assertEqual(stats.merge(jobs), [(-1, 0.5), (1, 5), (8, 12), (20, 30)])
        self.assertAlmostEqual(stats.covered(jobs, 0, 10), 0.5 + 4 + 2)

    def test_driver_time_is_the_rest_of_the_call(self):
        job, driver = stats.driver_split(0, 10, [(1, 3), (2, 5), (8, 12), (-1, 0.5)])
        self.assertAlmostEqual(job, 6.5)
        self.assertAlmostEqual(driver, 3.5)
        self.assertEqual(stats.driver_split(0, 4, []), (0, 4))


class SpanSelfTime(unittest.TestCase):
    def test_duration_minus_child_coverage(self):
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 4},
            {"id": 3, "parent": 1, "start": 6, "end": 7},
            {"id": 4, "parent": 2, "start": 2, "end": 3},
        ]
        self.assertEqual(stats.self_times(spans), {1: 6, 2: 2, 3: 1, 4: 1})
        self.assertEqual(sum(stats.self_times(spans).values()), 10)

    def test_traced_call_adds_up(self):
        ms = 1_000_000
        raw = {
            "units": [{"id": 0, "traced": True, "t0": 0, "t1": 100 * ms,
                       "sweeps": [(90 * ms, 95 * ms, 0)]}],
            "calls": [{"id": 1, "unit": 0, "kind": "query", "name": "q",
                       "t0": 10 * ms, "t_mid": 40 * ms, "t1": 80 * ms}],
            "jobs": [  # overlapping jobs, one spanning the plan/exec boundary
                {"id": 0, "group": "call-1", "call": 1, "t0": 20 * ms, "t1": 50 * ms},
                {"id": 1, "group": None, "call": 1, "t0": 45 * ms, "t1": 60 * ms},
                {"id": 2, "group": "call-1", "call": 1, "t0": 75 * ms, "t1": 85 * ms},
            ],
        }
        spans, jobs_of, worst = run.trace_run(raw, "t")
        self.assertEqual(len(jobs_of[1]), 3)
        self.assertLess(worst, 1e-12)
        call = next(s for s in spans if s["name"] == "call.query")
        sub = [s for s in spans if s["run_id"] == call["run_id"]]
        self.assertAlmostEqual(sum(s["self_s"] for s in sub), 0.070)
        jobs = sum(s["self_s"] for s in sub if s["name"] == "spark.jobs")
        self.assertAlmostEqual(jobs, 0.040 + 0.005)  # 20..60 and 75..80


class VectorChecker(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.s = gen.Stream(7, sizes=[24, 12, 12, 12], planted_per_batch=3, panel=4)

    def exact_topk(self, admitted, b, k=3):
        live = [p for p in range(len(self.s.ids))
                if admitted[p] and self.s.batch_of[p] <= b]
        rows = []
        for qi, q in enumerate(self.s.panel_ids):
            cs = check._cos_matrix(self.s.panel[qi:qi + 1], self.s.vecs[live])[0]
            order = np.argsort(-cs, kind="stable")[:k]
            rows += [(int(q), r + 1, int(self.s.ids[live[o]]), float(cs[o]))
                     for r, o in enumerate(order)]
        return rows

    def run_check(self, corpus_ids, k=3, topk=None):
        admitted = np.isin(self.s.ids, corpus_ids)
        topk = topk or {b: self.exact_topk(admitted, b, k) for b in range(4)}
        return check.check_episode(self.s, corpus_ids, topk, 0.92, k)

    def test_generator_keeps_cosines_clear_of_the_threshold(self):
        cs = check._cos_matrix(self.s.vecs, self.s.vecs)
        for p in range(len(self.s.ids)):
            others = [q for q in range(p) if q != self.s.source.get(p)]
            if others:
                self.assertLess(cs[p, others].max(), gen.CLEAN_MAX)
            if p in self.s.source:
                self.assertGreaterEqual(cs[p, self.s.source[p]], gen.DUP_MIN)

    def test_correct_admission_passes(self):
        ids = [int(i) for p, i in enumerate(self.s.ids) if p not in self.s.source]
        fails, st = self.run_check(ids)
        self.assertEqual(fails, {})
        self.assertEqual((st["dup_recall"], st["topk_recall"]), (1.0, 1.0))

    def test_flags_a_planted_false_reject(self):
        clean_late = next(p for p in range(len(self.s.ids))
                          if p not in self.s.source and self.s.batch_of[p] == 2)
        ids = [int(i) for p, i in enumerate(self.s.ids)
               if p not in self.s.source and p != clean_late]
        fails, _ = self.run_check(ids)
        self.assertIn(("admit", 2), fails)

    def test_flags_duplicate_ids_and_bad_scores(self):
        ids = [int(i) for p, i in enumerate(self.s.ids) if p not in self.s.source]
        fails, _ = self.run_check(ids + ids[:1])
        self.assertIn(("admit", 0), fails)
        admitted = np.isin(self.s.ids, ids)
        topk = {b: self.exact_topk(admitted, b) for b in range(4)}
        q, rk, bid, score = topk[1][0]
        topk[1][0] = (q, rk, bid, score - 0.01)
        fails, _ = self.run_check(ids, topk=topk)
        self.assertIn(("topk", 1), fails)

    def test_missed_duplicates_lower_dup_recall_only(self):
        ids = [int(i) for i in self.s.ids]
        fails, st = self.run_check(ids)
        self.assertEqual(fails, {})
        self.assertEqual(st["dup_recall"], 0.0)


class QueryChecker(unittest.TestCase):
    def test_flags_a_planted_wrong_row(self):
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.execute(f"COPY (SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) "
                        f"t(r_regionkey, r_name)) TO '{d}/region.parquet' (FORMAT parquet)")
            sql = "SELECT r_regionkey AS k, r_name AS n FROM region"
            for name, rows in (("good", "(1,'a'),(2,'b'),(3,'c')"),
                               ("wrong", "(1,'a'),(2,'b'),(3,'x')")):
                os.makedirs(f"{d}/out/{name}")
                con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(k, n)) "
                            f"TO '{d}/out/{name}/part-0.parquet' (FORMAT parquet)")
            con.close()
            res = check.compare_queries(d, f"{d}/out", {"good": sql, "wrong": sql},
                                        f"{d}/cache")
            self.assertEqual(res["good"], (True, 1.0, ""))
            ok, recall, msg = res["wrong"]
            self.assertFalse(ok)
            self.assertAlmostEqual(recall, 2 / 3)
            self.assertIn("1 oracle rows missing", msg)
            # the cached oracle side gives the same verdicts
            again = check.compare_queries(d, f"{d}/out", {"good": sql, "wrong": sql},
                                          f"{d}/cache")
            self.assertEqual(again, res)


if __name__ == "__main__":
    unittest.main()
