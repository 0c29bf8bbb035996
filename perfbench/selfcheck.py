#!/usr/bin/env python3
"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py

Covers the tail-percentile rule, failure counting (a wrong result is a
failure), the result hash used against the DuckDB twins, the rule that a
traced run must schedule the untraced run's jobs, and, in a small JVM,
innermost-span job attribution and per-op job counting
(graft.perfbench.SelfCheck). Every traced run of run.py also applies the
job rule to itself.
"""
import datetime
import decimal
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_too_few_samples_gives_no_tail(self):
        self.assertIsNone(run.tail_percentile(list(range(39))))

    def test_p75_needs_ten_beyond(self):
        p, v, beyond = run.tail_percentile([float(i) for i in range(1, 41)])
        self.assertEqual((p, v, beyond), (75, 30.0, 10))

    def test_highest_qualifying_percentile_wins(self):
        p, v, beyond = run.tail_percentile([float(i) for i in range(1, 101)])
        self.assertEqual((p, v, beyond), (90, 90.0, 10))
        p, _, beyond = run.tail_percentile(list(range(1000)))
        self.assertEqual((p, beyond), (99, 10))


def op(ok=True, correct=True, timed=True, wall=1.0):
    return {"ok": ok, "correct": correct, "timed": timed, "wall_s": wall,
            "heap_mb": None if timed else 10.0}


class Failures(unittest.TestCase):
    def test_wrong_result_counts_as_failed(self):
        ops = [op(), op(correct=False), op(ok=False, correct=False), op()]
        self.assertEqual(run.counts(ops), (4, 2))

    def test_wrong_results_leave_the_latency_median(self):
        res = {"setup": {"setup_s": 3.0}, "timed_wall_s": 6.0,
               "ops": [op(timed=False, wall=9.0), op(wall=1.0),
                       op(wall=2.0), op(correct=False, wall=100.0)]}
        res["ops"][-1]["heap_mb"] = 12.0
        m = run.end_to_end(res)
        self.assertEqual(m["op_p50_s"][0], 1.5)
        self.assertEqual(m["ops_per_min"][0], 20.0)
        self.assertEqual(m["live_heap_mb"][0], 12.0)


class ResultHash(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
        b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
        self.assertEqual(run.frame_hash(a), run.frame_hash(b))

    def test_engine_representations_agree(self):
        import pandas as pd
        spark = pd.DataFrame({
            "d": [decimal.Decimal("1.20")], "n": [3],
            "t": [pd.Timestamp("2020-01-01 10:00", tz="UTC")],
            "day": [datetime.date(2020, 1, 2)]})
        duck = pd.DataFrame({
            "d": [1.2], "n": [3.0], "t": [pd.Timestamp("2020-01-01 10:00")],
            "day": [pd.Timestamp("2020-01-02")]})
        self.assertEqual(run.frame_hash(spark), run.frame_hash(duck))

    def test_a_changed_value_changes_the_hash(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
        b = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        self.assertNotEqual(run.frame_hash(a), run.frame_hash(b))


class TracedJobs(unittest.TestCase):
    @staticmethod
    def result(jobs, jobs_per_op=None):
        ops = [{"name": f"q{i % 2}", "timed": True, "jobs": j}
               for i, j in enumerate(jobs)]
        return {"ops": ops, "layers": {"spark.jobs_per_op": jobs_per_op}}

    def test_equal_jobs_match(self):
        untraced = self.result([5, 7])
        traced = self.result([5, 7, 5, 7], jobs_per_op=6.0)
        self.assertTrue(run.jobs_match(traced, untraced))

    def test_an_extra_job_is_a_mismatch(self):
        untraced = self.result([5, 7])
        self.assertFalse(run.jobs_match(self.result([5, 8], 6.5), untraced))

    def test_the_listener_count_must_agree(self):
        untraced = self.result([5, 7])
        self.assertFalse(run.jobs_match(self.result([5, 7], 5.5), untraced))


def jvm_selfcheck():
    run.build()
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        os.makedirs(os.path.join(tmp, "tmp"))
        return subprocess.run(run.java_cmd(["--selfcheck"], tmp),
                              cwd=run.ROOT).returncode


if __name__ == "__main__":
    ok = unittest.main(exit=False).result.wasSuccessful()
    os.makedirs(run.WORK, exist_ok=True)
    ok = jvm_selfcheck() == 0 and ok
    sys.exit(0 if ok else 1)
