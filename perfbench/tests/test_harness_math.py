"""Harness arithmetic on synthetic numbers and spans.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import stats, trace  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.5]), 2.5)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_quartile_spread(self):
        # quantiles(n=4) of 1..9 (exclusive method) are 2.5, 5, 7.5
        self.assertAlmostEqual(stats.quartile_spread(range(1, 10)), 5.0 / 5.0)

    def test_union_and_idle_gaps(self):
        jobs = [(1, 3), (2, 4), (6, 7)]
        self.assertEqual(stats.union_length(jobs), 4)
        # gaps inside the span (0, 10): [0,1) [4,6) [7,10)
        self.assertEqual(stats.uncovered((0, 10), jobs), 6)
        # children outside the span are clipped away
        self.assertEqual(stats.uncovered((2, 5), [(0, 3), (4, 9)]), 1)
        self.assertEqual(stats.uncovered((0, 5), []), 5)


def _counters(t, cpu_ns, codegen_n=0, gc_ms=0, jit_ms=0):
    return {"epoch_ms": t, "t_ms": t, "cpu_ns": cpu_ns, "gc_ms": gc_ms,
            "jit_ms": jit_ms, "codegen_ns": codegen_n * 1_000_000,
            "codegen_n": codegen_n}


def _stage(sid, submitted, completed, cpu_ns=0, tasks=1):
    return {"id": sid, "attempt": 0, "name": f"s{sid}", "submitted": submitted,
            "completed": completed, "tasks": tasks, "failed_tasks": 0,
            "cpu_ns": cpu_ns, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "shuffle_read": 0, "fetch_wait_ms": 0, "spill": 0,
            "input_bytes": 0, "output_bytes": 1024 * 1024}


def synthetic_result():
    """One round of two operations. op1: build 1000-1400 holding job 1
    (1100-1200); action 1400-2000 holding job 2 (1500-1700) whose two
    stages ran, and job 3 (1800-1900) that lists stage 3 again (skipped)
    plus its own stage 4. op2: no jobs at all."""
    op1 = {"name": "op1", "group": "r0:op1", "wall_s": 1.0, "build_s": 0.4,
           "ok": True, "error": None, "files_written": 2,
           "start": _counters(1000, 0), "boundary": _counters(1400, 100_000_000),
           "end": _counters(2000, 900_000_000, codegen_n=3)}
    op2 = {"name": "op2", "group": "r0:op2", "wall_s": 0.5, "build_s": 0.0,
           "ok": True, "error": None, "files_written": 0,
           "start": _counters(2000, 900_000_000),
           "boundary": _counters(2000, 900_000_000),
           "end": _counters(2500, 1_000_000_000)}
    rec = {
        "jobs": [
            {"id": 1, "group": "r0:op1", "start": 1100, "end": 1200, "ok": True, "stages": [1]},
            {"id": 2, "group": "r0:op1", "start": 1500, "end": 1700, "ok": True, "stages": [2, 3]},
            {"id": 3, "group": "r0:op1", "start": 1800, "end": 1900, "ok": True, "stages": [3, 4]},
        ],
        "stages": [_stage(1, 1100, 1200, cpu_ns=50_000_000),
                   _stage(2, 1500, 1600, cpu_ns=100_000_000, tasks=4),
                   _stage(3, 1600, 1700, cpu_ns=100_000_000, tasks=4),
                   _stage(4, 1800, 1900, cpu_ns=50_000_000, tasks=2)],
        "execs": [{"t": 1950, "ok": True, "phases": {
            "analysis": {"start": 1400, "end": 1410},
            "optimization": {"start": 1410, "end": 1440},
            "planning": {"start": 1440, "end": 1450}}},
            {"t": 1300, "ok": True, "phases": {  # inside the build: not the action's
                "optimization": {"start": 1250, "end": 1290}}}],
        "blocks": [{"t": 1150, "block": "rdd_1_0", "bytes": 2 * 1024 * 1024, "cached": True},
                   {"t": 1160, "block": "rdd_1_1", "bytes": 1024 * 1024, "cached": True},
                   {"t": 1950, "block": "rdd_1_0", "bytes": 0, "cached": False}],
    }
    return {"workload": "synthetic", "setup_s": 3.0, "warmup_s": 5.0,
            "rounds": [{"round": 0, "wall_s": 1.5, "cpu_s": 1.0, "ops": [op1, op2]}],
            "trace": rec}


class TraceTest(unittest.TestCase):
    def setUp(self):
        self.prof = trace.profile(synthetic_result())
        self.op1 = self.prof["ops"][0]["counts"]
        self.op2 = self.prof["ops"][1]["counts"]

    def test_build_and_scheduling(self):
        self.assertAlmostEqual(self.op1["build.wall_s"], 0.4)
        self.assertEqual(self.op1["build.jobs"], 1)
        # build 1000-1400 minus job 1 (100 ms)
        self.assertAlmostEqual(self.op1["build.self_s"], 0.3)
        self.assertEqual(self.op1["sched.jobs"], 3)
        # op 1000-2000 minus jobs 1100-1200, 1500-1700, 1800-1900
        self.assertAlmostEqual(self.op1["sched.idle_s"], 0.6)
        self.assertEqual(self.op1["sched.stages"], 4)
        self.assertEqual(self.op1["sched.stages_skipped"], 1)
        self.assertEqual(self.op1["sched.tasks"], 11)
        self.assertAlmostEqual(self.op2["sched.idle_s"], 0.5)

    def test_self_time_and_counters(self):
        self.assertAlmostEqual(self.op1["task.cpu_s"], 0.3)
        # process CPU 0.9 s over the op, 0.3 s of it in tasks
        self.assertAlmostEqual(self.op1["driver.cpu_s"], 0.6)
        self.assertEqual(self.op1["codegen.compiles"], 3)
        self.assertAlmostEqual(self.op1["catalyst.optimizer_s"], 0.03)
        self.assertAlmostEqual(self.op1["catalyst.analysis_s"], 0.01)
        self.assertAlmostEqual(self.op1["io.write_mb"], 4.0)
        self.assertEqual(self.op1["io.files_written"], 2)

    def test_cache(self):
        self.assertEqual(self.op1["cache.blocks"], 2)
        self.assertAlmostEqual(self.op1["cache.peak_mb"], 3.0)
        self.assertEqual(self.op2["cache.blocks"], 0)

    def test_span_tree(self):
        spans = self.prof["ops"][0]["spans"]
        self.assertTrue(all(s["id"] == "r0:op1" for s in spans))
        kinds = [s["kind"] for s in spans]
        self.assertEqual(kinds.count("job"), 3)
        self.assertEqual(kinds.count("stage"), 4)
        job1 = next(s for s in spans if s["name"] == "job 1")
        self.assertEqual(job1["parent"], "build")

    def test_layer_metrics_are_round_totals(self):
        m = trace.layer_metrics(self.prof)
        self.assertEqual(list(m), trace.REPORTED)
        self.assertEqual(m["sched.jobs"]["value"], 3)
        self.assertAlmostEqual(m["sched.idle_s"]["value"], 1.1)


if __name__ == "__main__":
    unittest.main()
