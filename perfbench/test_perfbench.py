"""Tests of the benchmark's Python side; run with `run.py --self-test`."""
import gzip
import os
import tempfile
import unittest

import baseline
import sampler
from stats import median, percentile


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(percentile(range(99), 0.9))
        self.assertEqual(percentile(range(100), 0.9), 89)
        self.assertEqual(percentile(range(200), 0.9), 179)

    def test_p50_needs_twenty_samples(self):
        self.assertIsNone(percentile(range(19), 0.5))
        self.assertEqual(percentile(range(20), 0.5), 9)

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


class Sampler(unittest.TestCase):
    catalog = {n: {"seconds": i * 0.01} for i, n in enumerate(
        list(sampler.TARGETS) + [f"{f}_{i}" for f in ("q1", "txt", "sim", "dd", "pipe", "mm", "odns")
                                 for i in range(12)])}

    def test_same_seed_same_sample_and_order(self):
        self.assertEqual(sampler.sample(self.catalog, 5), sampler.sample(self.catalog, 5))

    def test_other_seed_other_order_same_members(self):
        a, b = sampler.sample(self.catalog, 5), sampler.sample(self.catalog, 6)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))

    def test_targets_and_every_family(self):
        s = sampler.sample(self.catalog, 9)
        self.assertTrue(set(sampler.TARGETS) <= set(s))
        self.assertEqual({sampler.family(n) for n in s}, set(sampler.FAMILIES))
        self.assertEqual(len(s), len(set(s)))


class Baseline(unittest.TestCase):
    def test_reference_typers(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "tcp_scan_2026-08-01.csv.gz")
            with gzip.open(p, "wt") as fh:
                fh.write("ip_request;timestamp_request;asn_request\n")
                fh.write("1.2.3.4;2026-08-01 10:00:00.000001;3320\n")
                fh.write(";N/A;AS3320\n")
                fh.write("5.6.7.8;;\n")
            rows, rejects = baseline.load(p)
        self.assertEqual(len(rows), 3)
        self.assertEqual(rejects, 2)
        self.assertEqual(rows[0]["asn_request"], 3320.0)
        self.assertIsNone(rows[1]["ip_request"])
        self.assertIsNone(rows[2]["timestamp_request"])


if __name__ == "__main__":
    unittest.main()
