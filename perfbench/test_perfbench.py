"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

The input-generator tests take seconds. The negative control builds the
program if needed and runs one benchmark JVM (about a minute).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import run  # noqa: E402


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


class InputsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, seed, name):
        out = os.path.join(self.tmp.name, name)
        inputs.generate(seed, out)
        return out

    def test_seed_0_is_the_fixture_set_byte_for_byte(self):
        out = self.gen(0, "a")
        for t in inputs.TABLES:
            self.assertEqual(read_bytes(os.path.join(out, f"{t}.parquet")),
                             read_bytes(os.path.join(inputs.BASE, f"{t}.parquet")), t)

    def test_a_seed_always_gives_the_same_bytes(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        for t in inputs.TABLES:
            self.assertEqual(read_bytes(os.path.join(a, f"{t}.parquet")),
                             read_bytes(os.path.join(b, f"{t}.parquet")), t)

    def test_other_seeds_keep_row_counts_and_schemas_and_change_the_data(self):
        base = {t: pq.read_table(os.path.join(inputs.BASE, f"{t}.parquet"))
                for t in inputs.TABLES}
        for seed in (1, 2):
            out = self.gen(seed, f"s{seed}")
            for t in inputs.TABLES:
                got = pq.read_table(os.path.join(out, f"{t}.parquet"))
                self.assertEqual(got.num_rows, base[t].num_rows, t)
                self.assertTrue(got.schema.equals(base[t].schema, check_metadata=True), t)
                changed = t in ("orders", "lineitem", "documents")
                self.assertEqual(not got.equals(base[t]), changed, t)
        one = pq.read_table(os.path.join(self.tmp.name, "s1", "orders.parquet"))
        two = pq.read_table(os.path.join(self.tmp.name, "s2", "orders.parquet"))
        self.assertFalse(one.equals(two))


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, beyond = run.tail(list(range(1, 101)))
        self.assertEqual((value, pct, beyond), (90, 90, 10))
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[1], 50)

    def test_union_counts_overlaps_once_and_clips_to_the_window(self):
        intervals = [(0, 10), (5, 15), (20, 30), (40, 50), (-5, 2)]
        self.assertEqual(run.union_ms(intervals, 1, 25), 14 + 5)


    def test_span_coverage_is_the_attributed_share_of_job_time_in_the_passes(self):
        passes = [{"start_ms": 0, "end_ms": 100}, {"start_ms": 200, "end_ms": 300}]
        jobs = [(10, 40, True), (50, 60, False), (90, 210, True), (150, 160, False)]
        self.assertAlmostEqual(run.span_coverage(jobs, passes), (30 + 10 + 10) / 60)
        self.assertEqual(run.span_coverage([], passes), 1.0)


class NegativeControlTest(unittest.TestCase):
    """In the stream-maintain workload, a key that throws and a key whose
    result is corrupted count in `failed` for every execution, make the run
    incorrect and give no latency samples; a key without a fault passes."""

    KEYS = ["stream_hll_maintain", "stream_topk_maintain"]

    def run_with(self, faults):
        env = dict(os.environ, PERFBENCH_FAULTS=faults)
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream-maintain",
             "--seed", "0", "--seconds", "1", "--trace", "0"],
            cwd=os.path.dirname(HERE), env=env, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        detail, final = (json.loads(l) for l in p.stdout.strip().splitlines()[-2:])
        self.assertEqual([r["key"] for r in detail["per_key"]], self.KEYS)
        executions = 1 + detail["warm_passes"]
        self.assertFalse(final["correct"])
        self.assertEqual(final["attempted"], len(self.KEYS) * executions)
        return detail, final, executions

    def test_throwing_and_corrupted_keys_fail(self):
        detail, final, executions = self.run_with(
            "throw:stream_hll_maintain,corrupt:stream_topk_maintain")
        self.assertEqual(final["failed"], 2 * executions)
        self.assertEqual(detail["end_to_end"]["failed_frac"]["value"], 1.0)
        self.assertIn("injected fault", detail["failed_keys"]["stream_hll_maintain"])
        self.assertIn("rows got=", detail["failed_keys"]["stream_topk_maintain"])
        # neither counts as fast: no latency samples at all
        self.assertEqual(detail["query_tail"]["warm_samples"], 0)
        self.assertIsNone(detail["end_to_end"]["query_p50_s"]["value"])
        for r in detail["per_key"]:
            self.assertIsNone(r["warm_s"], r["key"])

    def test_a_key_without_a_fault_still_passes(self):
        detail, final, executions = self.run_with("corrupt:stream_topk_maintain")
        self.assertEqual(final["failed"], executions)
        self.assertEqual(list(detail["failed_keys"]), ["stream_topk_maintain"])
        recs = {r["key"]: r for r in detail["per_key"]}
        self.assertIsNone(recs["stream_topk_maintain"]["warm_s"])
        # only the passing key's warm executions are latency samples
        self.assertEqual(detail["query_tail"]["warm_samples"], detail["warm_passes"])
        self.assertAlmostEqual(detail["end_to_end"]["query_p50_s"]["value"],
                               recs["stream_hll_maintain"]["warm_s"], places=3)


if __name__ == "__main__":
    unittest.main()
