"""The benchmark's own checks: a planted wrong result counts as failed.

    python3 -m unittest discover -s perfbench/tests

The fast tests drive the trend_analytics result check and the metric
helpers directly. Set PERFBENCH_E2E=1 to also run every workload end to
end with ``--plant`` (a few minutes; run from the root of a checkout),
which corrupts one result inside the harness before it is checked.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import oracle  # noqa: E402


def _result(tmp, frames):
    res_dir = os.path.join(tmp, "results")
    for name, df in frames.items():
        os.makedirs(os.path.join(res_dir, name))
        df.to_parquet(os.path.join(res_dir, name, "part-0.parquet"))
    ops = [{"id": i, "name": n, "ok": True, "error": None}
           for i, n in enumerate(frames)]
    return {"results_dir": res_dir, "ops": ops, "result_errors": {}}


class TrendCheck(unittest.TestCase):
    frames = {
        "q_a": pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}),
        "q_b": pd.DataFrame({"s": ["x", "y"], "n": [10, 20]}),
    }

    def oracles(self):
        return {n: oracle.frame_hash(df) for n, df in self.frames.items()}

    def test_matching_results_pass(self):
        with tempfile.TemporaryDirectory() as tmp:
            res = _result(tmp, self.frames)
            oracle.check_trend(res, self.oracles())
            self.assertTrue(all(o["ok"] for o in res["ops"]))

    def test_row_order_and_column_order_do_not_matter(self):
        shuffled = {"q_a": self.frames["q_a"].iloc[::-1][["v", "k"]],
                    "q_b": self.frames["q_b"]}
        with tempfile.TemporaryDirectory() as tmp:
            res = _result(tmp, shuffled)
            oracle.check_trend(res, self.oracles())
            self.assertTrue(all(o["ok"] for o in res["ops"]))

    def test_planted_wrong_result_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            res = _result(tmp, self.frames)
            oracle.check_trend(res, self.oracles(), plant=True)
            failed = [o["name"] for o in res["ops"] if not o["ok"]]
            self.assertEqual(failed, ["q_a"])

    def test_wrong_value_and_wrong_type_fail(self):
        wrong = {"q_a": self.frames["q_a"].assign(v=[0.5, 1.5, 2.5000001]),
                 "q_b": self.frames["q_b"].assign(n=[10.0, 20.0])}
        with tempfile.TemporaryDirectory() as tmp:
            res = _result(tmp, wrong)
            oracle.check_trend(res, self.oracles())
            self.assertFalse(any(o["ok"] for o in res["ops"]))

    def test_rows_only_query_fails_when_empty(self):
        with tempfile.TemporaryDirectory() as tmp:
            res = _result(tmp, {"q_a": self.frames["q_a"].iloc[0:0]})
            oracle.check_trend(res, {"q_a": None})
            self.assertFalse(res["ops"][0]["ok"])


class Helpers(unittest.TestCase):
    def test_median_and_tail_are_harrell_davis_estimates(self):
        self.assertAlmostEqual(metrics.quantile(list(range(1, 12)), 0.5), 6.0)
        self.assertAlmostEqual(metrics.quantile([1.0, 3.0], 0.5), 2.0)
        value, pct = metrics.tail([3.0, 1.0])
        self.assertEqual(pct, 90)
        self.assertTrue(2.8 < value < 3.0)
        self.assertEqual(metrics.tail([5.0]), (5.0, 90))

    def test_median_moves_smoothly_when_two_kinds_swap(self):
        # two kinds of op at 1.0 and 2.0 s; one op moving from just below
        # the middle to just above it barely moves the estimate
        a = [1.0] * 7 + [1.45] + [2.0] * 6
        b = [1.0] * 7 + [1.55] + [2.0] * 6
        self.assertLess(abs(metrics.quantile(a, 0.5)
                            - metrics.quantile(b, 0.5)), 0.05)

    def test_union_of_job_intervals(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_failed_ops_make_the_run_incorrect(self):
        res = {"ops": [{"latency_s": 1.0, "ok": True},
                       {"latency_s": 2.0, "ok": False}],
               "setup_reps_s": [1.0], "setup_extra_s": 0.0,
               "timed_wall_s": 3.0, "heap_live_mb": 1.0, "tmp_live_mb": 1.0,
               "loadavg_start_1m": 0.0, "loadavg_end_1m": 0.0, "nproc": 1}
        s = metrics.summarise(res, trace=False)
        self.assertFalse(s["correct"])
        self.assertEqual((s["attempted"], s["failed"]), (2, 1))


class Compare(unittest.TestCase):
    def write_set(self, d, ops_per_s, failed):
        os.makedirs(d)
        for seed in (1, 2, 3):
            art = {"run": {"workload": "w", "traced": False, "seed": seed},
                   "summary": {"failed": failed, "attempted": 10,
                               "metrics": {"ops_per_s": {
                                   "value": ops_per_s + seed / 100,
                                   "unit": "1/s"}}}}
            with open(os.path.join(d, f"w-{seed}.json"), "w") as f:
                json.dump(art, f)

    def compare(self, base_failed, new_failed):
        with tempfile.TemporaryDirectory() as tmp:
            base, new = os.path.join(tmp, "base"), os.path.join(tmp, "new")
            self.write_set(base, 1.0, base_failed)
            self.write_set(new, 2.0, new_failed)
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH, "compare.py"), base, new],
                capture_output=True, text=True, timeout=60, check=True,
                cwd=os.path.dirname(BENCH))
            return out.stdout

    def test_faster_set_improves(self):
        self.assertIn("-> improved", self.compare(0, 0))

    def test_more_failed_ops_is_not_an_improvement(self):
        out = self.compare(0, 1)
        self.assertIn("failed ops     base  0/30  new 3/30", out)
        self.assertIn("-> not improved: more failed ops", out)
        self.assertNotIn("-> improved", out)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "end-to-end runs are slow; set PERFBENCH_E2E=1")
class PlantedEndToEnd(unittest.TestCase):
    def run_planted(self, workload):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "7", "--seconds", "3", "--plant"],
            capture_output=True, text=True, timeout=900, check=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"], out.stdout)
        self.assertGreaterEqual(last["failed"], 1)

    def test_trend_analytics(self):
        self.run_planted("trend_analytics")

    def test_curation_ingest(self):
        self.run_planted("curation_ingest")

    def test_rag_retrieval(self):
        self.run_planted("rag_retrieval")


if __name__ == "__main__":
    unittest.main()
