"""Self-tests of the benchmark's own logic (no Spark session needed).

  python3 perfbench/selftest.py

``fixtures/eventlog_v2_local-tiny`` is a trimmed Spark 4.1 event log of
two tagged actions in one application: job group ``s1`` read a 100-row
parquet file, repartitioned it, ran a ``mapInPandas`` that kept the 50
even rows and aggregated them; group ``s2`` wrote ``range(10)`` to the
noop sink.
"""

from __future__ import annotations

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 37)]  # 36 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (26.0, 72, 36))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))
        self.assertEqual(stats.tail(xs), (89.0, 90, 100))

    def test_too_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 100, 10))
        self.assertEqual(stats.tail([float(i) for i in range(11)]), (0.0, 9, 11))

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class FailureRatioTest(unittest.TestCase):
    def test_counts(self):
        ops = {"prime": True, "op0": False, "op1": True, "op2": True}
        self.assertEqual(stats.failure_ratios(ops), (4, 1, 0.25, 0.75))

    def test_all_ok(self):
        self.assertEqual(stats.failure_ratios({"a": True}), (1, 0, 0.0, 1.0))

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.failure_ratios({})


class RoundingTest(unittest.TestCase):
    def test_one_unit_of_rounding(self):
        import pandas as pd

        from workloads import within_rounding

        oracle = pd.DataFrame({"k": ["a", "b"], "units": [10, 20], "x": [0.5, 1.0]})
        near = oracle.assign(units=[11, 20], x=[0.5, 1.0 + 1e-12])
        self.assertTrue(within_rounding(near, oracle))
        self.assertFalse(within_rounding(oracle.assign(units=[12, 20]), oracle))
        self.assertFalse(within_rounding(oracle.assign(x=[0.5, 1.001]), oracle))
        self.assertFalse(within_rounding(oracle.assign(k=["a", "c"]), oracle))
        self.assertFalse(within_rounding(oracle.head(1), oracle))


class CoveredTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(spans.covered([]), 0.0)
        self.assertEqual(spans.covered([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(spans.covered([(0, 10), (2, 3)]), 10.0)

    def test_subtree(self):
        tr = spans.Tracer(enabled=True)
        with tr.span("op", "a") as op:
            with tr.span("child", "b") as child:
                pass
        self.assertEqual(child.parent, op.id)
        self.assertEqual(tr.subtree(op), [op.id, child.id])

    def test_disabled_tracer_records_nothing(self):
        tr = spans.Tracer(enabled=False)
        with tr.span("op", "a") as sp:
            self.assertIsNone(sp)
        self.assertEqual(tr.spans, [])


class EventLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = spans.parse_event_log(os.path.join(HERE, "fixtures"), "local-tiny")

    def test_pipeline_span(self):
        st = spans.attach(self.log, ["s1"])
        self.assertEqual((st.jobs, st.stages, st.tasks, st.task_failures), (4, 4, 5, 0))
        self.assertEqual(st.sql["python_rows_in"], 100)
        self.assertEqual(st.sql["python_rows_out"], 50)
        self.assertEqual(st.sql["arrow_to_python_bytes"], 2096)
        self.assertEqual(st.sql["arrow_from_python_bytes"], 1248)
        self.assertEqual(st.sql["python_run_ms"], 3743)
        self.assertEqual(st.sql["scan_ms"], 289)
        self.assertEqual(st.bytes_read, 2752)
        self.assertEqual(st.shuffle_write_bytes, 1515)
        self.assertAlmostEqual(st.executor_run_s, 5.018)
        self.assertAlmostEqual(st.scheduler_delay_s, 0.099)
        self.assertAlmostEqual(st.plan_s, 1.113, places=3)
        self.assertEqual(len(st.exec_walls), 1)

    def test_other_span(self):
        st = spans.attach(self.log, ["s2"])
        self.assertEqual((st.jobs, st.stages, st.tasks), (1, 1, 2))
        self.assertEqual(st.sql, {})
        self.assertEqual(st.bytes_read, 0)

    def test_unknown_group(self):
        st = spans.attach(self.log, ["nope"])
        self.assertEqual((st.jobs, st.tasks, st.job_wall_s), (0, 0, 0.0))

    def test_split_accounts_for_wall(self):
        for group in ("s1", "s2"):
            st = spans.attach(self.log, [group])
            wall = st.job_wall_s + 0.5
            split = spans.split_wall(wall, st, {"functions.text": 0.001})
            self.assertAlmostEqual(sum(split.values()), wall)
            self.assertAlmostEqual(split["driver"], 0.5)
            self.assertTrue(all(v >= 0 for v in split.values()))


class StopAllTest(unittest.TestCase):
    """``procs.stop_all`` waits for processes orphaned below the
    benchmark, as the PySpark daemon is once the JVM has ended."""

    @classmethod
    def setUpClass(cls):
        if not procs.become_subreaper():
            raise unittest.SkipTest("no PR_SET_CHILD_SUBREAPER on this platform")

    def _orphan(self, secs: float) -> None:
        import subprocess

        # the shell exits at once and leaves its sleep child behind
        subprocess.run(["sh", "-c", f"sleep {secs} & exit 0"], check=True)

    def test_waits_for_an_orphan_that_ends(self):
        self._orphan(0.3)
        self.assertEqual(len(procs.descendants(os.getpid())), 1)
        self.assertEqual(procs.stop_all(grace_s=5.0), [])
        self.assertEqual(procs.descendants(os.getpid()), [])

    def test_signals_an_orphan_that_does_not_end(self):
        self._orphan(60)
        (pid,) = procs.descendants(os.getpid())
        self.assertEqual(procs.stop_all(grace_s=0.2), [pid])
        self.assertEqual(procs.descendants(os.getpid()), [])


if __name__ == "__main__":
    unittest.main(verbosity=2)
