"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import benchlib
import run


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(benchlib.percentile([5], 0.9), 5)
        self.assertAlmostEqual(benchlib.percentile(range(101), 0.9), 90.0)

    def test_tail_rule_keeps_ten_samples_beyond(self):
        # 100 samples support p90 exactly: ten lie above it
        self.assertAlmostEqual(benchlib.tail_quantile(100), 0.9)
        # 50 samples only support p80
        self.assertAlmostEqual(benchlib.tail_quantile(50), 0.8)
        # far more samples never go past the asked-for quantile
        self.assertAlmostEqual(benchlib.tail_quantile(10000), 0.9)
        # too few for any tail: fall back to the median
        self.assertEqual(benchlib.tail_quantile(20), 0.5)
        self.assertEqual(benchlib.tail_quantile(5), 0.5)

    def test_tail_percentile_reports_quantile_used(self):
        q, v = benchlib.tail_percentile(list(range(1, 51)))
        self.assertAlmostEqual(q, 0.8)
        self.assertAlmostEqual(v, benchlib.percentile(range(1, 51), 0.8))


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(benchlib.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(benchlib.union_length([(5, 15), (0, 10), (15, 20)]), 20)
        self.assertEqual(benchlib.union_length([]), 0)
        # empty or inverted intervals cover nothing
        self.assertEqual(benchlib.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_subtracts_union_of_children(self):
        # two overlapping children cover 30..70 once
        self.assertEqual(benchlib.self_time(0, 100, [(30, 60), (40, 70)]), 60)
        # children are clipped to the span's window
        self.assertEqual(benchlib.self_time(10, 20, [(0, 15), (18, 40)]), 3)
        self.assertEqual(benchlib.self_time(0, 10, []), 10)
        self.assertEqual(benchlib.self_time(0, 10, [(20, 30)]), 10)


class ModuleTagging(unittest.TestCase):
    def test_innermost_library_frame_wins(self):
        site = "\n".join([
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:3656)",
            "graft.lake.TxTable.overwritePartition(TxTable.scala:1350)",
            "graft.core.TableEtl.writeTx(TableEtl.scala:261)",
            "graft.core.RunRegistry.$anonfun$runOnce$1(Core.scala:83)",
            "perfbench.Medallion.day(Medallion.scala:150)"])
        self.assertEqual(benchlib.module_of(site), "lake")

    def test_module_from_lambda_and_loader_prefixed_frames(self):
        site = ("app//graft.checks.Checks$.$anonfun$evaluate$2(Checks.scala:40)"
                "\napp//graft.core.TableEtl.validate(TableEtl.scala:99)")
        self.assertEqual(benchlib.module_of(site), "checks")

    def test_lake_stream_classes_belong_to_streaming(self):
        site = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                "graft.lake.TxMicroBatchStream.planInputPartitions"
                "(TxMicroBatch.scala:88)")
        self.assertEqual(benchlib.module_of(site), "streaming")

    def test_top_level_objects_and_no_library_frame(self):
        self.assertEqual(benchlib.module_of(
            "graft.Tables$.load(Tables.scala:30)"), "graft")
        # a top-level object above a module frame does not hide it
        self.assertEqual(benchlib.module_of(
            "graft.Tables$.load(Tables.scala:32)\n"
            "graft.sources.RainforestFromTpch.t(RainforestFromTpch.scala:28)"),
            "sources")
        self.assertEqual(benchlib.module_of(
            "perfbench.Curation.measure(Curation.scala:44)"), "bench")
        self.assertEqual(benchlib.module_of("", streaming=True), "streaming")
        self.assertEqual(benchlib.module_of(None), "bench")


class Attribution(unittest.TestCase):
    spans = [
        {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
        {"id": 2, "parent": 1, "start": 10.0, "end": 50.0},
        {"id": 3, "parent": 1, "start": 20.0, "end": 40.0},
    ]

    def test_submitting_thread_span_when_it_contains_the_job(self):
        jobs = [{"id": 7, "start": 15.0, "span": "2"}]
        self.assertEqual(benchlib.attribute(jobs, self.spans), {7: 2})

    def test_window_rule_picks_innermost_containing_span(self):
        jobs = [{"id": 8, "start": 30.0, "span": ""},
                {"id": 9, "start": 60.0, "span": "3"}]  # stale property
        self.assertEqual(benchlib.attribute(jobs, self.spans), {8: 3, 9: 1})

    def test_descendants(self):
        d = benchlib.descendants(self.spans)
        self.assertEqual(d[1], {1, 2, 3})
        self.assertEqual(d[3], {3})


class IterationCounts(unittest.TestCase):
    def test_ordered_by_iteration_number_not_key_order(self):
        values = {"lake_after_day 10": {"commits": 40},
                  "setup_s": 1.0,
                  "lake_after_day 2": {"commits": 8},
                  "lake_after_day 0": {"commits": 0},
                  "lake_after_day 1": {"commits": 4}}
        self.assertEqual(
            [(n, c["commits"]) for n, c in benchlib.iteration_counts(values)],
            [(0, 0), (1, 4), (2, 8), (10, 40)])

    def test_commits_per_iteration_from_unordered_counts(self):
        # one warm-up day (0) and two measured days, keys out of order
        values = {"measure_start_ms": 0.0, "measure_end_ms": 100.0,
                  "lake_after_day 2": {"commits": 30, "log_files": 33},
                  "lake_after_day 0": {"commits": 10, "log_files": 11},
                  "lake_after_day 1": {"commits": 20, "log_files": 22}}
        spans = [{"id": 1, "parent": 0, "name": "day 1", "start": 1.0,
                  "end": 40.0},
                 {"id": 2, "parent": 0, "name": "day 2", "start": 50.0,
                  "end": 90.0}]
        raw = {"values": values, "samples": {}, "spans": spans, "jobs": [],
               "queries": [], "facts": {}}
        got, *_ = run.layer_metrics(raw, "medallion_daily")
        self.assertEqual(got["lake.commits"], 10.0)
        self.assertEqual(got["lake.log_files"], 33.0)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py reports."""
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         run.END_TO_END)

    def test_per_layer_names_and_units(self):
        raw = {"values": {"measure_start_ms": 0.0, "measure_end_ms": 10.0},
               "samples": {}, "spans": [], "jobs": [], "queries": [],
               "facts": {}}
        got, *_ = run.layer_metrics(raw, "curation_ops")
        self.assertEqual(
            [(m["name"], m["unit"]) for m in self.spec["per_layer"]],
            [(k, run.layer_unit(k)) for k in got])
        self.assertEqual(
            [w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
