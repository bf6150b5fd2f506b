"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import datetime
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchlib  # noqa: E402
import render  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p95 leaves 5 beyond, p90 leaves exactly 10
        self.assertEqual(benchlib.tail_percentile(xs), (90, 90, 100))

    def test_thousand_samples_reach_p99(self):
        xs = list(range(1000))
        p, v, n = benchlib.tail_percentile(xs)
        self.assertEqual((p, n), (99, 1000))
        self.assertEqual(v, 989)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(benchlib.tail_percentile(list(range(19))))
        self.assertEqual(benchlib.tail_percentile(list(range(20)))[0], 50)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(benchlib.tail_percentile(xs), benchlib.tail_percentile(sorted(xs)))


class AggregateTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_geomean(self):
        self.assertAlmostEqual(benchlib.geomean([1.0, 4.0, 16.0]), 4.0)
        with self.assertRaises(ValueError):
            benchlib.geomean([1.0, 0.0])


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        a = [("o1", "h1"), ("o2", "h2"), ("o3", "h3")]
        self.assertEqual(benchlib.digest(a), benchlib.digest(list(reversed(a))))

    def test_sensitive_to_content_and_membership(self):
        a = [("o1", "h1"), ("o2", "h2")]
        self.assertNotEqual(benchlib.digest(a), benchlib.digest([("o1", "h1"), ("o2", "hX")]))
        self.assertNotEqual(benchlib.digest(a), benchlib.digest(a[:1]))

    def test_accepts_lists_as_pairs(self):
        self.assertEqual(benchlib.digest([["o1", "h1"]]), benchlib.digest([("o1", "h1")]))


class ResultLineTest(unittest.TestCase):
    declared = {"setup_s": "s", "op_p50_s": "s"}

    def metrics(self):
        return {"setup_s": benchlib.metric(1.25, "s"), "op_p50_s": benchlib.metric(0.5, "s")}

    def test_emits_exactly_the_result_keys(self):
        line = benchlib.result_line(True, 10, 0, self.metrics(), self.declared)
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["setup_s"], {"value": 1.25, "unit": "s"})

    def test_rejects_missing_or_extra_metrics(self):
        m = self.metrics()
        del m["op_p50_s"]
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 1, 0, m, self.declared)
        m = self.metrics()
        m["x"] = benchlib.metric(1, "s")
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 1, 0, m, self.declared)

    def test_rejects_wrong_unit_non_finite_and_zero_attempts(self):
        m = self.metrics()
        m["setup_s"] = benchlib.metric(1, "ms")
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 1, 0, m, self.declared)
        m = self.metrics()
        m["setup_s"] = benchlib.metric(math.nan, "s")
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 1, 0, m, self.declared)
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 0, 0, self.metrics(), self.declared)


def fake_events(n, users=7):
    t0 = datetime.datetime(2024, 1, 1)
    return [{"event_id": i, "ts": t0 + datetime.timedelta(seconds=13 * i),
             "user_id": i % users, "event_type": "error" if i % 5 == 0 else "view",
             "value": round(1.5 * i, 2), "props": json.dumps({"k": i % 97})}
            for i in range(n)]


class RenderTest(unittest.TestCase):
    def test_seed_permutes_but_keeps_the_release_set(self):
        ev = fake_events(200)
        a, b = render.permuted(ev, 1), render.permuted(ev, 2)
        self.assertNotEqual([e["event_id"] for e in a], [e["event_id"] for e in b])
        self.assertEqual(sorted(e["event_id"] for e in a), list(range(200)))
        self.assertEqual(render.permuted(ev, 1), a)

    def test_release_shape_is_independent_of_the_seed(self):
        e = fake_events(10)[4]
        self.assertEqual(render.release_of(e), render.release_of(dict(e)))

    def test_every_engine_path_is_exercised(self):
        sh = render.shares(fake_events(720))
        for k in ("upgrade_rewrite", "upgrade_noop", "upgrade_differs",
                  "check_fail", "check_pass", "merge_dup_id"):
            self.assertGreater(sh[k], 0, k)
        self.assertAlmostEqual(sh["upgrade_rewrite"] + sh["upgrade_noop"], 1.0)

    def test_expected_counts_follow_the_shapes(self):
        ev = fake_events(72)
        exp = render.expected_counts(ev)
        self.assertEqual(exp["items"], 72)
        self.assertEqual(exp["compiled"], 7)
        self.assertEqual(exp["check_failures"], 9)  # event_id % 8 == 3
        self.assertEqual(exp["merge_notes"], 8)  # event_id % 9 == 4, no repeated dates
        self.assertEqual(exp["notes"], exp["upgrade_notes"] + exp["merge_notes"])

    def test_compiled_hashes_cover_each_ocid_once(self):
        ev = fake_events(50)
        hashes = render.compiled_hashes(ev)
        self.assertEqual(sorted(hashes), sorted({f"ocds-bench-{e['user_id']}" for e in ev}))
        self.assertEqual(hashes, render.compiled_hashes(list(reversed(ev))))

    def test_render_writes_valid_packages(self):
        import tempfile
        ev = fake_events(1200)
        with tempfile.TemporaryDirectory() as d:
            names = render.render(ev, 5, 2, d)
            self.assertEqual(names, ["package_0000.json", "package_0001.json"])
            with open(os.path.join(d, names[0])) as f:
                pkg = json.load(f)
            self.assertEqual(len(pkg["releases"]), render.RELEASES_PER_FILE)
            ids = [r["id"] for r in pkg["releases"]]
            self.assertEqual(ids, [f"r{e['event_id']}" for e in render.permuted(ev, 5)[:500]])


if __name__ == "__main__":
    unittest.main()
