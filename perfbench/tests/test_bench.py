"""Tests of the benchmark's own code (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                         "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertIsNone(stats.tail_percentile(39))

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(sum(1 for x in xs if x > stats.percentile(xs, 95)), 10)
        self.assertEqual(stats.percentile([5.0], 50), 5.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)


class SeedDeterminism(unittest.TestCase):
    def _tree(self, root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a)
            gen.generate(7, b)
            files = self._tree(a)
            self.assertEqual(files, self._tree(b))
            self.assertIn("requests.json", files)
            for f in files:
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a)
            gen.generate(8, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "requests.json"),
                                         os.path.join(b, "requests.json"), shallow=False))

    def test_serve_mix_is_even_over_the_faces(self):
        with tempfile.TemporaryDirectory() as a:
            reqs = gen.generate(5, a)["serve"]
            faces = [r["kind"] + (":" + r["face"] if "face" in r else "") for r in reqs]
            self.assertEqual(sorted(faces), sorted(gen.SERVE_FACES * gen.REQUESTS_PER_FACE))

    def test_arrival_split_partitions_the_corpus(self):
        with tempfile.TemporaryDirectory() as a:
            split = gen.generate(3, a)["ingest"]
            ids = split["standing"] + [i for b in split["batches"] for i in b]
            self.assertEqual(sorted(ids), list(range(gen.N_DOCS)))
            self.assertEqual(len(split["batches"]), gen.N_ARRIVALS)


class FailureAccounting(unittest.TestCase):
    def test_thrown_and_wrong_output_both_count_once(self):
        ops = [{"name": "a", "error": None}, {"name": "b", "error": "boom"},
               {"name": "c", "error": None}, {"name": "c", "error": None},
               {"name": "d", "error": "boom"}]
        checks = {"a#1": ("a", True), "c#1": ("c", False), "c#2": ("c", False),
                  "d#1": ("d", False)}
        # b threw; both runs of c produced a wrong output; d did both
        self.assertEqual(stats.failure_count(ops, checks), 4)

    def test_all_good(self):
        ops = [{"name": "a", "error": None}]
        self.assertEqual(stats.failure_count(ops, {"a": ("a", True)}), 0)


def span(i, parent, start, end, layer="x", name=None):
    return {"trace": 1, "id": i, "parent": parent, "name": name or f"s{i}",
            "layer": layer, "start": start, "end": end, "attrs": {}}


class SpanSelfTime(unittest.TestCase):
    def test_nested_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 90),
                 span(4, 3, 60, 70)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 30 - 40)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 40 - 10)
        self.assertAlmostEqual(st[4], 10)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_overlapping_siblings_share_and_sum_to_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 1, 40, 100)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 0)
        self.assertAlmostEqual(st[2], 40 + 10)
        self.assertAlmostEqual(st[3], 10 + 40)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_child_outside_parent_is_clipped_and_the_clip_reported(self):
        spans = [span(1, 0, 0, 10, "op", "req"), span(2, 1, 0, 10, "driver", "action"),
                 span(3, 2, 5, 30, "scheduler", "job 1")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[3], 5)
        self.assertAlmostEqual(sum(st.values()), 10)
        # the 20 ms of the job outside the operation is the self-gap
        self.assertAlmostEqual(stats.op_layers(spans)["clipped_ms"], 20)
        inside = [span(1, 0, 0, 10, "op", "req"), span(2, 1, 0, 10, "driver", "action"),
                  span(3, 2, 5, 9, "scheduler", "job 1")]
        self.assertEqual(stats.op_layers(inside)["clipped_ms"], 0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_op_layers_idle_is_action_time_without_jobs(self):
        spans = [span(1, 0, 0, 100, "op", "req"), span(2, 1, 0, 30, "operators", "construct"),
                 span(3, 1, 30, 100, "driver", "action"),
                 span(4, 3, 40, 60, "scheduler", "job 1"), span(5, 3, 50, 80, "scheduler", "job 2"),
                 span(6, 2, 10, 20, "scheduler", "job 0")]
        rec = stats.op_layers(spans)
        self.assertEqual(rec["idle_ms"], 70 - 40)
        self.assertEqual(rec["construct_ms"], 30)
        self.assertEqual(rec["construct_jobs"], 1)
        self.assertEqual(rec["jobs"], 3)
        self.assertAlmostEqual(rec["self_sum_ms"], 100)

    def test_eager_step_is_its_own_layer_not_construction(self):
        spans = [span(1, 0, 0, 100, "op", "compact"),
                 span(2, 1, 0, 100, "materialize", "compact"),
                 span(3, 2, 10, 50, "scheduler", "job 1")]
        rec = stats.op_layers(spans)
        self.assertIsNone(rec["construct_ms"])
        self.assertIsNone(rec["construct_jobs"])
        self.assertEqual(rec["idle_ms"], 60)
        self.assertAlmostEqual(rec["self_materialize"], 60)
        self.assertAlmostEqual(rec["self_operators"], 0)
        frame = [span(11, 0, 0, 10, "op", "req"), span(12, 11, 0, 4, "operators", "construct"),
                 span(13, 11, 4, 10, "driver", "action")]
        for s in frame:
            s["trace"] = 2
        out = stats.layer_metrics(spans + frame, {}, [1.0], [1.0], 4)
        self.assertEqual(out["operators.construct_ms"], 4)
        self.assertEqual(out["operators.construct_jobs"], 0)

    def test_stream_step_triggers_are_the_trigger_spans(self):
        spans = [span(1, 0, 0, 100, "op", "stream"),
                 span(2, 1, 0, 100, "streaming", "stream"),
                 span(3, 2, 10, 50, "streaming", "trigger"),
                 span(4, 2, 60, 80, "streaming", "trigger"),
                 span(5, 2, 82, 95, "streaming", "trigger")]
        out = stats.layer_metrics(spans, {}, [1.0], [1.0], 4)
        self.assertEqual(out["streaming.first_trigger_ms"], 40)
        self.assertEqual(out["streaming.trigger_ms"], (20 + 13) / 2)
        self.assertAlmostEqual(out["streaming.self_ms"], 100)

    def test_overhead_is_the_difference_of_pass_medians(self):
        out = stats.layer_metrics([], {}, [10.0, 12.0, 11.0], [10.0, 9.0], 4)
        self.assertAlmostEqual(out["trace.overhead_s"], 11.0 - 9.5)


class PassWall(unittest.TestCase):
    """wall_s is the sum of each operation's median over the passes."""

    def test_a_burst_in_one_pass_is_left_out(self):
        op = lambda name, p, ms: {"name": name, "pass": p, "start": 0.0, "end": ms}
        # pass 1's `a` and pass 2's `b` were each hit by a burst
        ops = [op("a", 0, 100), op("b", 0, 200),
               op("a", 1, 900), op("b", 1, 210),
               op("a", 2, 110), op("b", 2, 800)]
        self.assertAlmostEqual(run.typical_pass_s(ops), 0.110 + 0.210)
        # the median over whole passes takes in one of the bursts
        self.assertAlmostEqual(stats.median(run.pass_walls(ops)), 0.91)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the runs print."""

    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_per_layer_metrics_match_the_traced_output(self):
        printed = stats.layer_metrics([], {}, [1.0], [1.0], 4)
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(set(declared), set(printed))
        for name, unit in declared.items():
            self.assertEqual(unit, stats.unit_of(name), name)

    def test_end_to_end_metrics_are_the_gated_ones(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]], list(run.GATED))
        self.assertEqual({w["name"] for w in self.bench["workloads"]} - set(run.WORKLOADS),
                         set())


class CompareRule(unittest.TestCase):
    def test_gain_needs_nine_of_ten_pairs_and_a_gap_beyond_the_iqr(self):
        parent = [100 + i for i in range(10)]
        self.assertEqual(compare.verdict(parent, [p - 20 for p in parent], 0.1), "improved")
        mixed = [p - 20 if i < 8 else p + 1 for i, p in enumerate(parent)]
        self.assertEqual(compare.verdict(parent, mixed, 0.5), "same")

    def test_regression_beyond_bound(self):
        parent = [100.0] * 10
        self.assertEqual(compare.verdict(parent, [120.0] * 10, 0.1), "REGRESSION")
        self.assertEqual(compare.verdict(parent, [105.0] * 10, 0.1), "worse")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [50, 150, 100, 60, 140, 100, 70, 130, 90, 110]
        change = [p + 1 for p in parent[:5]] + [p - 1 for p in parent[5:]]
        self.assertEqual(compare.verdict(parent, change, 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
