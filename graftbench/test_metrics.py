"""Unit checks of the benchmark's metric math.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)
        self.assertEqual(metrics.percentile([7], 90), 7)

    def test_median_matches_statistics(self):
        xs = [3.0, 9.5, 1.25, 4.0, 8.0, 2.5]
        self.assertEqual(metrics.percentile(xs, 50), statistics.median(xs))

    def test_ten_samples_beyond_the_tail_percentile(self):
        # p90 of 92 samples sits between the 82nd and 83rd: 10 lie above
        self.assertEqual(metrics.samples_beyond(92, 90), 10)
        self.assertEqual(metrics.samples_beyond(91, 90), 9)
        self.assertEqual(metrics.samples_beyond(38, 75), 10)
        self.assertEqual(metrics.samples_beyond(37, 75), 9)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_span_time_outside_every_job(self):
        span = {"start_ms": 100.0, "end_ms": 200.0}
        jobs = [{"start_ms": 90.0, "end_ms": 120.0},    # clipped to 100..120
                {"start_ms": 110.0, "end_ms": 150.0},   # overlaps the first
                {"start_ms": 180.0, "end_ms": 260.0}]   # clipped to 180..200
        self.assertEqual(metrics.driver_gap(span, jobs), 100 - 50 - 20)
        self.assertEqual(metrics.driver_gap(span, []), 100)

    def test_self_time_subtracts_children_once(self):
        parent = {"start_ms": 0.0, "end_ms": 100.0}
        kids = [{"start_ms": 10.0, "end_ms": 40.0}, {"start_ms": 30.0, "end_ms": 50.0},
                {"start_ms": 90.0, "end_ms": 130.0}]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 40 - 10)


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start_ms": start, "end_ms": end}


def job(span_id, start, end, tasks=1, cpu=1.0, inp=0, shuf=0, out=0, site="x"):
    return {"span": span_id, "start_ms": start, "end_ms": end, "tasks": tasks, "cpu_ms": cpu,
            "input_bytes": inp, "shuffle_bytes": shuf, "output_bytes": out, "site": site}


class SpanTable(unittest.TestCase):
    def test_parent_spans_roll_up_their_children(self):
        spans = [span(1, "streaming.batch", 0, 0, 100),
                 span(2, "streaming.cdc_merge", 1, 10, 60),
                 span(3, "operators.route_sink", 1, 60, 90)]
        jobs = [job(2, 20, 40, tasks=4, out=1000), job(2, 45, 55, tasks=2, out=500),
                job(3, 70, 80, tasks=1, out=10), job(0, 0, 5)]
        rows = metrics.span_table(spans, jobs, [])
        batch = rows["streaming.batch"]
        self.assertEqual(batch["ms"], 100)
        self.assertEqual(batch["self_ms"], 100 - 50 - 30)
        self.assertEqual(batch["jobs"], 3)
        self.assertEqual(batch["tasks"], 7)
        self.assertEqual(batch["output_bytes"], 1510)
        self.assertEqual(batch["driver_gap_ms"], 100 - 20 - 10 - 10)
        self.assertEqual(rows["streaming.cdc_merge"]["jobs"], 2)
        self.assertEqual(rows["streaming.cdc_merge"]["driver_gap_ms"], 50 - 30)

    def test_medians_over_instances_and_setup_spans_kept_apart(self):
        spans = [span(1, "streaming.preload", 0, 0, 1000),
                 span(2, "streaming.batch", 1, 100, 900),     # primer batch: set-up only
                 span(3, "streaming.batch", 0, 2000, 2100),
                 span(4, "streaming.batch", 0, 3000, 3300),
                 span(5, "streaming.batch", 0, 4000, 4200)]
        rows = metrics.span_table(spans, [], [])
        self.assertEqual(rows["streaming.batch"]["ms"], 200)
        self.assertEqual(rows["streaming.batch"]["n"], 3)
        self.assertEqual(rows["streaming.preload"]["ms"], 1000)

    def test_micro_batch_phases_come_from_progress(self):
        progress = [{"duration_ms": {"triggerExecution": 500, "addBatch": 420,
                                     "latestOffset": 12, "getBatch": 3}},
                    {"duration_ms": {"triggerExecution": 700, "addBatch": 600,
                                     "latestOffset": 20, "getBatch": 5}},
                    {"duration_ms": {"triggerExecution": 4}}]  # an idle trigger
        rows = metrics.span_table([], [], progress)
        self.assertEqual(rows["sources.get_batch"]["ms"], (15 + 25) / 2)
        self.assertEqual(rows["streaming.trigger_overhead"]["ms"], (80 + 100) / 2)

    def test_every_per_layer_name_is_unique_and_within_the_limit(self):
        names = [n for n, _ in metrics.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)


if __name__ == "__main__":
    unittest.main()
