#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/test_bench.py            # from the repository root

The estimator and digest tests take a second. `ScalaDigestTest` builds the
harness if needed and runs one JVM; `CountRepeatTest` makes two traced
curation runs of one seed (a few minutes).
"""
import datetime
import decimal
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import estimators  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_integral_widths_and_floats_are_canonical(self):
        self.assertEqual(digest.canon(7), "i7")
        self.assertEqual(digest.canon(2 ** 70), "i%d" % 2 ** 70)  # HUGEINT sums
        self.assertEqual(digest.canon(True), "b1")
        self.assertEqual(digest.canon(0.1 + 0.2), "f0.3")
        self.assertEqual(digest.canon(-0.0), "f0")
        self.assertEqual(digest.canon(1234567890123.0), "f1234567890000")
        self.assertEqual(digest.canon(decimal.Decimal("12.3400")), "d12.34")
        self.assertEqual(digest.canon(float("nan")), "fnan")

    def test_type_tags_separate_equal_looking_values(self):
        self.assertNotEqual(digest.canon(1), digest.canon(1.0))
        self.assertNotEqual(digest.canon("1"), digest.canon(1))
        self.assertNotEqual(digest.canon(None), digest.canon("N"))

    def test_timestamps_are_utc_micros(self):
        self.assertEqual(digest.canon(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        aware = datetime.datetime(1970, 1, 1, 1, 0, tzinfo=datetime.timezone(
            datetime.timedelta(hours=1)))
        self.assertEqual(digest.canon(aware), "t0")

    def test_digest_ignores_row_and_column_order(self):
        a = digest.of(["x", "y"], [[1, "a"], [2, "b"]])
        self.assertEqual(a, digest.of(["y", "x"], [["b", 2], ["a", 1]]))
        self.assertNotEqual(a, digest.of(["x", "y"], [[1, "a"], [2, "c"]]))
        self.assertNotEqual(a, digest.of(["x", "y"], [[1, "a"]]))
        # a multiset: a duplicated row counts
        self.assertNotEqual(a, digest.of(["x", "y"], [[1, "a"], [2, "b"], [2, "b"]]))

    def test_maps_sort_entries_structs_keep_field_order(self):
        self.assertEqual(digest.canon({"b": 1, "a": 2}, is_map=True), "<s1:a:i2,s1:b:i1>")
        self.assertEqual(digest.canon({"b": 1, "a": 2}), "{i1,i2}")


class ScalaDigestTest(unittest.TestCase):
    """The harness digests Spark rows in Scala; the checker digests DuckDB
    and ground-truth rows in Python. Both must canonicalise alike."""

    def test_scala_and_python_agree(self):
        jars = build.spark_jars()
        root = os.getcwd()
        classes = build.build(root, os.path.abspath(
            os.environ.get("CARGO_TARGET_DIR", ".bench_build")), jars)
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
             "graftbench.Digest"], stdout=subprocess.PIPE, text=True, check=True)
        expected = [
            digest.canon(v) for v in [
                None, True, 42, -7, 42, -7, 0.1 + 0.2, -0.0,
                1.100000023841858, 1e300, float("nan"), float("-inf"),
                decimal.Decimal("12.3400"), "naïve ☃",
                datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
                datetime.datetime(1969, 12, 31, 23, 59, 59, 500000),
                datetime.date(2024, 2, 29), bytes([0, 15, 255]), [1, None, 3],
                {"a": 1, "b": "x"}]]
        expected.append(digest.canon({"b": 1, "a": 2}, is_map=True))
        self.assertEqual(out.stdout.splitlines(), expected)


class EstimatorTest(unittest.TestCase):
    def test_wall_is_sum_of_per_operation_medians(self):
        samples = [("a", 10.0), ("a", 12.0), ("a", 500.0),
                   ("b", 100.0), ("b", 90.0), ("b", 110.0)]
        self.assertAlmostEqual(estimators.wall_s(samples), (12.0 + 100.0) / 1000.0)

    def test_one_burst_per_operation_does_not_move_wall(self):
        base = [(op, 100.0) for op in "abc" for _ in range(4)]
        burst = [(op, ms * (5 if i % 4 == 0 else 1)) for i, (op, ms) in enumerate(base)]
        self.assertEqual(estimators.wall_s(base), estimators.wall_s(burst))
        # the pooled mean, by contrast, moves by the whole burst
        self.assertGreater(sum(ms for _, ms in burst), 1.9 * sum(ms for _, ms in base))

    def test_high_percentile_keeps_ten_samples_beyond(self):
        for n, level in [(100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
                         (10000, 99.9)]:
            got, value, beyond = estimators.high_percentile(range(1, n + 1))
            self.assertEqual(got, level, n)
            self.assertEqual(beyond, sum(x > value for x in range(1, n + 1)))
            self.assertGreaterEqual(beyond, 10)

    def test_level_never_falls_below_90(self):
        # the run's own sample counts: 3 operations x 4 passes, 7 x 4
        self.assertEqual(estimators.high_percentile(range(1, 13)), (90.0, 11, 1))
        self.assertEqual(estimators.high_percentile(range(1, 29)), (90.0, 26, 2))
        self.assertEqual(estimators.high_percentile([3, 1, 2]), (90.0, 3, 0))

    def test_spread_uses_exclusive_quartiles(self):
        med, q1, q3, sp = estimators.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(sp, 1.0)


COUNTS = ["entry.driver_jobs", "sched.jobs", "sched.stages", "sched.tasks",
          "ckpt.jobs", "shuffle.write_bytes", "shuffle.read_bytes",
          "shuffle.spill_bytes"] + [f"curation.{s}_rows_out" for s in run.STAGES]


class CountRepeatTest(unittest.TestCase):
    """Two traced runs of one seed give identical count metrics.

    `codegen.compiles` is the exception: tasks compile generated classes
    concurrently, so the order of hits and evictions in Spark's 100-entry
    codegen cache differs from run to run (measured: 130 and 136 for the
    same seed). It is held to 10%."""

    def traced(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", "curation", "--seed", "7",
                            "--seconds", "1", "--trace", "1"],
                           stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"])
        return {k: res["metrics"][k]["value"] for k in COUNTS + ["codegen.compiles"]}

    def test_counts_repeat(self):
        first, second = self.traced(), self.traced()
        self.assertGreater(first["sched.jobs"], 0)
        self.assertGreater(first["codegen.compiles"], 0)
        self.assertAlmostEqual(first.pop("codegen.compiles") / second.pop("codegen.compiles"),
                               1.0, delta=0.1)
        self.assertEqual(first, second)


if __name__ == "__main__":
    unittest.main()
