"""Tests of the benchmark's own helpers: python3 -m unittest discover readbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def execs(*outcomes):
    return [{"client": "c0", "seq": i, "outcome": o, "ms": 10.0, "rows": 1,
             "detail": None if o == "ok" else "x"} for i, o in enumerate(outcomes)]


class TailPercentile(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        values = list(range(200))
        p95 = gen.tail_percentile(values, 0.95)
        self.assertEqual(p95, 189)
        self.assertEqual(sum(1 for v in values if v > p95), 10)

    def test_withheld_with_fewer_than_ten_beyond(self):
        self.assertIsNone(gen.tail_percentile(list(range(199)), 0.95))
        self.assertIsNone(gen.tail_percentile([], 0.95))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        self.assertIsNone(gen.tail_percentile([1.0] * 191 + [2.0] * 9, 0.95))


class FailureAccounting(unittest.TestCase):
    def test_errors_refusals_and_wrong_rows_all_fail(self):
        attempted, failed, by = gen.tally(execs("ok", "error", "refused", "wrong", "ok"))
        self.assertEqual((attempted, failed), (5, 3))
        self.assertEqual(by, {"ok": 2, "error": 1, "refused": 1, "wrong": 1})

    def test_latency_population(self):
        stats = run.window_stats(execs("ok", "wrong", "error", "refused"))
        # a reply with wrong rows still arrived; errors and refusals did not
        self.assertEqual(stats["completed"], 2)

    def test_only_named_defects_keep_a_run_correct(self):
        es = execs("ok", "wrong", "wrong")
        es[1]["detail"] = run.KNOWN_DEFECT + "some named defect"
        self.assertEqual(run.unexplained(es, 3), 1)
        self.assertEqual(run.unexplained(es[:2], 3), 0)

    def test_failed_counts_the_check_set_only(self):
        es = execs("ok", "wrong", "ok", "wrong", "error")
        for e in es[1::2]:
            e["detail"] = run.KNOWN_DEFECT + "some named defect"
        attempted, failed, _ = gen.tally(gen.check_set(es, 3))
        self.assertEqual((attempted, failed), (3, 1))

    def test_failures_beyond_the_check_set_make_a_run_incorrect(self):
        es = execs("ok", "error", "ok", "wrong", "refused")
        es[3]["detail"] = run.KNOWN_DEFECT + "some named defect"
        # inside the check set an error is counted in `failed`; beyond it,
        # only a named defect's wrong rows may go uncounted
        self.assertEqual(run.unexplained(es, 3), 1)
        self.assertEqual(run.unexplained(es[:4], 3), 0)


class Contention(unittest.TestCase):
    def test_foreign_jvm_or_load_above_nproc(self):
        quiet = {"loadavg": 1.0, "java_processes": 0}
        self.assertFalse(run.is_contended([quiet, quiet], 4))
        self.assertTrue(run.is_contended([quiet, {"loadavg": 4.5, "java_processes": 0}], 4))
        self.assertTrue(run.is_contended([{"loadavg": 0.5, "java_processes": 1}, quiet], 4))


class Determinism(unittest.TestCase):
    def plan(self, workload, seed):
        return gen.plan(workload, seed, 20, 0, "events", "work", 4)

    def test_same_seed_same_statements(self):
        for w in gen.WORKLOADS:
            self.assertEqual(self.plan(w, 7), self.plan(w, 7))

    def test_other_seed_other_statements_same_layout(self):
        a, b = self.plan("point_lookup", 7), self.plan("point_lookup", 8)
        self.assertNotEqual(a["clients"], b["clients"])
        self.assertEqual(a["layout"], b["layout"])

    def test_class_mix_does_not_depend_on_the_seed(self):
        def mix(p):
            return [[(s["cls"], s["org"], s["metric"]) for s in c["statements"]][:len(gen.TABLE_CYCLE)]
                    for c in p["clients"]]
        a, b = self.plan("range_scan", 1), self.plan("range_scan", 2)
        self.assertEqual(mix(a), mix(b))

    def test_check_set_mix_does_not_depend_on_the_seed(self):
        # every check set is whole class x source-stratum rotations, so the
        # statements a named defect bends are as many for every seed
        for w in gen.WORKLOADS:
            def mix(p):
                return sorted((c["wire"], s["cls"], str(stratum(s))) for c in p["clients"]
                              for s in c["statements"][:p["check_len"]])
            self.assertEqual(mix(self.plan(w, 1)), mix(self.plan(w, 2)), w)

    def test_statements_filter_only_on_timestamp(self):
        for w in gen.WORKLOADS:
            for c in self.plan(w, 3)["clients"]:
                for s in c["statements"][:50]:
                    self.assertNotIn("date", s["sql"].lower())
                    self.assertLessEqual(s["lo"], s["hi"])


def stratum(s):
    """The stratum of the day of the first bucket a statement's range holds
    (for 7-day spans: the band of start days)."""
    first = -(-s["lo"] // gen.QUANTUM_MS) * gen.QUANTUM_MS
    d = (first - gen.T0) // gen.DAY_MS + 1
    if s["cls"] == "agg7d":
        return next(i for i, days in enumerate(gen.SPAN7_CYCLE) if d in days)
    return next((k for k, days in gen.STRATA.items() if d in days), "other")


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        # id, parent, stmt, name, start, end
        spans = [
            [1, 0, "s", "statement.inproc", 0, 100],
            [2, 1, "s", "frontend.build", 0, 40],
            [3, 2, "s", "engine.analyze", 10, 25],
            [4, 1, "s", "engine.execute", 40, 95],
        ]
        wall, layers = run.self_times(spans)["s"]
        self.assertEqual(wall, 100)
        self.assertEqual(layers, {"frontend": 25, "engine": 70})

    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(run.union_ns([(0, 10), (5, 20), (30, 40)], 2, 35), 23)


if __name__ == "__main__":
    unittest.main()
