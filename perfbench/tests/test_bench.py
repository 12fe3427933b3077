"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The statistics tests run in milliseconds. The JVM tests build the
benchmark's JVM side first (sbt, offline); the per-workload smoke runs
on the sf0.001 tables take a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402


def op(name, t=0.5, error=None):
    return {"name": name, "plan_s": t / 2, "exec_s": t / 2, "error": error}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(run.tail_percentile(list(range(1000))), (99.0, 989))
        self.assertEqual(run.tail_percentile(list(range(20000))), (99.95, 19989))

    def test_exactly_ten_beyond(self):
        xs = list(range(50))
        p, v = run.tail_percentile(xs)
        self.assertEqual((p, v), (80.0, 39))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_small_pool_falls_back_to_the_median(self):
        self.assertEqual(run.tail_percentile([3.0, 1.0, 2.0]), (50.0, 2.0))
        self.assertEqual(run.tail_percentile(list(range(19))), (50.0, 9))
        self.assertEqual(run.tail_percentile(list(range(20))), (50.0, 9))

    def test_order_of_samples_does_not_matter(self):
        xs = [0.1 * ((i * 37) % 101) for i in range(101)]
        self.assertEqual(run.tail_percentile(xs), run.tail_percentile(sorted(xs)))


class FailedOps(unittest.TestCase):
    passes = [
        {"index": 0, "ops": [op("a"), op("b"), op("c")]},
        {"index": 1, "ops": [op("a"), op("b", error="boom"), op("c")]},
        {"index": 2, "ops": [op("a"), op("b"), op("c")]},
    ]

    def test_thrown_op_counts_as_failed_and_infinite(self):
        attempted, failed, pool = run.op_accounting(self.passes, set())
        self.assertEqual((attempted, failed), (9, 1))
        self.assertEqual(len(pool), 6)  # warm passes only
        self.assertEqual(pool.count(run.FAILED_LATENCY_S), 1)

    def test_oracle_mismatch_fails_every_execution_of_the_op(self):
        attempted, failed, pool = run.op_accounting(self.passes, {"c"})
        self.assertEqual((attempted, failed), (9, 4))
        self.assertEqual(pool.count(run.FAILED_LATENCY_S), 3)

    def test_ok_rate_and_tail_see_failures(self):
        res = {"passes": [dict(p, wall_s=2.0, cpu_s=1.0) for p in self.passes],
               "launched_us": 1000, "ready_us": 1501000}
        attempted, failed, m, info = run.end_to_end(res, {"c"})
        self.assertAlmostEqual(m["op_ok_rate"], 1 - 4 / 9)
        self.assertEqual(m["setup_s"], 1.5)
        self.assertEqual(m["op_tail_s"], m["op_p50_s"])  # a small pool: the median
        # 24 warm samples, a third of them failed: the tail is infinite
        warm = [dict(p, index=i) for i, p in enumerate(res["passes"][1:] * 4, 1)]
        _, _, m, info = run.end_to_end(dict(res, passes=res["passes"][:1] + warm), {"c"})
        self.assertEqual(info["op_samples"], 24)
        self.assertEqual(m["op_tail_s"], run.FAILED_LATENCY_S)

    def test_clean_run(self):
        res = {"passes": [dict(p, wall_s=2.0, cpu_s=1.0) for p in FailedOps.passes[::2]],
               "launched_us": 0, "ready_us": 1000000}
        attempted, failed, m, _ = run.end_to_end(res, set())
        self.assertEqual((attempted, failed, m["op_ok_rate"]), (6, 0, 1.0))
        self.assertEqual(m["op_p50_s"], 0.5)


class SeedOrder(unittest.TestCase):
    def test_deterministic(self):
        self.assertEqual(run.pass_orders("warehouse", 7, 51, 8),
                         run.pass_orders("warehouse", 7, 51, 8))

    def test_true_permutations(self):
        for order in run.pass_orders("corpus", 3, 27, 16):
            self.assertEqual(sorted(order), list(range(27)))

    def test_seed_and_pass_change_the_order(self):
        a = run.pass_orders("stream", 1, 20, 4)
        b = run.pass_orders("stream", 2, 20, 4)
        self.assertNotEqual(a, b)
        self.assertGreater(len({tuple(o) for o in a}), 1)


class ProfileDiff(unittest.TestCase):
    def test_profile_diff_separates_counts_from_times(self):
        import profile_diff
        a = {"workload": "w", "seed": 1, "layers": {"ops.jobs": 10, "ops.plan_s": 2.0},
             "rows": {"ops/x": {"jobs": 4, "dur_s": 1.0}}}
        b = {"workload": "w", "seed": 1, "layers": {"ops.jobs": 8, "ops.plan_s": 2.5},
             "rows": {"ops/x": {"jobs": 4, "dur_s": 1.5}}}
        text = profile_diff.report(a, b)
        self.assertIn("layers, counts:\n    ops.jobs: 10 -> 8 (-2, x0.800 of base 10)", text)
        self.assertIn("layers, times:\n    ops.plan_s: 2 -> 2.5", text)
        self.assertNotIn("jobs: 4 -> 4", text)


class Materialization(unittest.TestCase):
    def test_timed_plan_keeps_q1_aggregates(self):
        """The timed action must evaluate every aggregate of q1; count()
        would let Catalyst drop them, so this fails under count()."""
        classes = run.build()
        jvm = run.Jvm(classes, "plancheck")
        try:
            data = run.inputs(run.SCALES[0])
            out = os.path.join(jvm.tmp, "plancheck.json")
            jvm.call("plancheck", data, out, run.cores())
            with open(out) as f:
                r = json.load(f)
        finally:
            jvm.close()
        sums = [a for a in r["materialized_aggregates"] if a.startswith("sum(")]
        self.assertGreaterEqual(len(sums), 5, r)
        self.assertTrue(any(a.startswith("count(") for a in r["materialized_aggregates"]), r)
        # the same check on a count() plan fails: its aggregates are gone
        self.assertFalse(any(a.startswith("sum(") for a in r["counted_aggregates"]), r)


class Smoke(unittest.TestCase):
    """One short run of each workload on the sf0.001 tables."""

    def smoke(self, workload, trace):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
               "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        want = run.per_layer_units() if trace else run.END_TO_END
        self.assertEqual(list(res["metrics"]), list(want))
        return res

    def test_warehouse(self):
        self.smoke("warehouse", 0)

    def test_corpus(self):
        self.smoke("corpus", 1)

    def test_stream(self):
        self.smoke("stream", 1)

    def test_scale(self):
        self.smoke("scale", 0)


if __name__ == "__main__":
    unittest.main()
