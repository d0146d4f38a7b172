"""Tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import datagen  # noqa: E402
import gate  # noqa: E402
import metrics  # noqa: E402


class IngestFeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        datagen.fixtures(cls.data)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def feed_dir(self, seed, name):
        d = os.path.join(self.tmp.name, name)
        datagen.write_feed(*datagen.ingest_feed(os.path.join(self.data, "events.parquet"),
                                                seed, max_ticks=30), d)
        return d

    def test_same_seed_gives_byte_identical_batches(self):
        a, b = self.feed_dir(5, "a"), self.feed_dir(5, "b")
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        self.assertIn("tick=0000.parquet", names)
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_other_batches(self):
        a, c = self.feed_dir(5, "a2"), self.feed_dir(6, "c")
        ticks = sorted(set(os.listdir(a)) - {"schedule.tsv"})
        _, mismatch, _ = filecmp.cmpfiles(a, c, ticks, shallow=False)
        self.assertEqual(mismatch, ticks)

    def test_batches_hold_the_stated_mix(self):
        batches, cutoffs = datagen.ingest_feed(os.path.join(self.data, "events.parquet"), 5,
                                               max_ticks=8)
        self.assertEqual(batches[0].num_rows, datagen.INITIAL_ROWS + datagen.INVALID_ROWS)
        self.assertEqual(batches[1].num_rows, datagen.FRESH_ROWS + datagen.UPDATE_ROWS
                         + datagen.INVALID_ROWS)
        self.assertEqual([b is None for b in batches[:5]], [False, False, True, False, True])
        self.assertEqual(cutoffs[0], None)
        self.assertIsNotNone(cutoffs[1])
        # tick 3 re-delivers keys of the retention window before its fresh ones
        first_fresh = datagen.INITIAL_ROWS + datagen.FRESH_ROWS
        repeated = [k for k in batches[3]["event_id"].to_pylist()
                    if k is not None and k < first_fresh]
        self.assertEqual(len(set(repeated)), datagen.UPDATE_ROWS)
        self.assertGreaterEqual(min(repeated), first_fresh - datagen.KEEP_ROWS)

    def test_fixtures_are_deterministic(self):
        other = os.path.join(self.tmp.name, "data2")
        datagen.fixtures(other)
        _, mismatch, errors = filecmp.cmpfiles(
            self.data, other, [f"{t}.parquet" for t in datagen.TABLES], shallow=False)
        self.assertEqual((mismatch, errors), ([], []))


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 102)), 90), 91)

    def test_ignores_order(self):
        xs = [0.31, 0.12, 0.55, 0.2, 0.9, 0.05, 0.4]
        self.assertAlmostEqual(metrics.percentile(xs, 50), 0.31)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 0.69)
        self.assertEqual(metrics.percentile(sorted(xs), 90), metrics.percentile(xs, 90))

    def test_edges(self):
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile([], 50), 0.0)


class OverheadTest(unittest.TestCase):
    def test_sums_neighbouring_pairs(self):
        pairs = [dict(off=4, on=5, off_s=2.0, on_s=2.2), dict(off=7, on=6, off_s=1.0, on_s=1.1)]
        self.assertAlmostEqual(metrics.overhead_pct(pairs), 10.0)
        self.assertEqual(metrics.overhead_pct([]), 0.0)


def span(kind, op, id_, start, end, **kw):
    return dict(kind=kind, op=op, id=id_, start_ms=start, end_ms=end, **kw)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.union_s([(0, 100), (50, 150), (300, 400)], 0, 1000), 0.25)
        self.assertAlmostEqual(metrics.union_s([(0, 100), (50, 150)], 80, 120), 0.04)
        self.assertEqual(metrics.union_s([], 0, 10), 0.0)

    def test_self_time_subtracts_covered_children(self):
        op = dict(id=1, layer="operators", start_ms=0.0, wall_s=1.0)
        spans = [
            span("exec", 1, 10, 100, 600, root=10),
            span("job", 1, 1, 150, 400, exec=10),
            span("job", 1, 2, 300, 550, exec=10),
            span("stage", 1, 5, 160, 390, job=1),
            span("exec", 1, 11, 700, 800, root=11),
        ]
        s = metrics.self_times(metrics.span_tree(op, spans))
        # op: 1000 ms minus execs [100,600] and [700,800]
        self.assertAlmostEqual(s["operators"], 0.4)
        # exec 10: 500 ms minus jobs' union [150,550]; exec 11 has no children
        self.assertAlmostEqual(s["plans"], 0.1 + 0.1)
        # job 1: 250 - 230 (stage); job 2: 250; stage: 230
        self.assertAlmostEqual(s["spark"], 0.02 + 0.25 + 0.23)

    def test_batch_jobs_hang_under_their_micro_batch(self):
        op = dict(id=3, layer="streaming", start_ms=0.0, wall_s=2.0)
        spans = [
            span("batch", 3, 0, 200, 1200, duration_ms={"triggerExecution": 1000}),
            span("job", 3, 7, 300, 500),
            span("job", 3, 8, 1500, 1600),
        ]
        tree = metrics.span_tree(op, spans)
        batch = [c for c in tree["children"] if c["layer"] == "streaming"][0]
        self.assertEqual([c["src"]["id"] for c in batch["children"]], [7])
        s = metrics.self_times(tree)
        self.assertAlmostEqual(s["streaming"], 2.0 - 1.0 - 0.1 + 1.0 - 0.2)
        self.assertAlmostEqual(s["spark"], 0.3)


class PipelineModelTest(unittest.TestCase):
    def batch(self, rows):
        return pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64())}, schema=datagen.EVENT_SCHEMA)

    def test_counts_follow_the_pipeline_contract(self):
        feed = [self.batch([(1, 10, 1.0), (2, 20, 2.0), (None, 15, 1.0)]),
                None,
                self.batch([(3, 30, 1.0), (1, 25, 5.0), (4, 26, -1.0)])]
        runs = gate.expected_runs(feed, 2)
        self.assertEqual([r["status"] for r in runs], ["initial_load", "no_new_data", "success"])
        self.assertEqual((runs[0]["found"], runs[0]["dropped"], runs[0]["inserted"]), (3, 1, 2))
        # the boundary row at the watermark (ts 20) is read again
        self.assertEqual((runs[2]["found"], runs[2]["dropped"], runs[2]["inserted"]), (4, 1, 1))
        self.assertEqual(runs[2]["total"], 3)


if __name__ == "__main__":
    unittest.main()
