"""Self-tests of the benchmark's metric maths.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import rollup  # noqa: E402


def span(id, parent, start, end, layer="dedup", counters=None, facts=None, trace="w-1"):
    return {"id": id, "parent": parent, "trace": trace, "name": f"s{id}", "layer": layer,
            "start": start, "end": end, "counters": counters or {}, "facts": facts or {}}


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, q2, q3 = rollup.quartiles(values)
        self.assertEqual([q1, q2, q3], statistics.quantiles(values, n=4))
        self.assertEqual(q2, statistics.median(values))

    def test_spread_is_interquartile_share_of_median(self):
        values = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(rollup.spread(values), (q3 - q1) / q2)

    def test_single_value(self):
        self.assertEqual(rollup.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(rollup.spread([2.5]), 0.0)

    def test_median_even_count(self):
        self.assertEqual(rollup.median([4.0, 1.0, 3.0, 2.0]), 2.5)


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        spans = [span(0, -1, 0.0, 10.0, "pipeline"), span(1, 0, 1.0, 3.0), span(2, 0, 4.0, 8.0)]
        st = rollup.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 4.0)

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, 0.0, 10.0, "pipeline"), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0),
                 span(3, 0, 6.5, 6.8)]
        self.assertAlmostEqual(rollup.self_times(spans)[0], 10.0 - 6.0)

    def test_children_outside_parent_are_clipped(self):
        spans = [span(0, -1, 2.0, 6.0, "pipeline"), span(1, 0, 0.0, 3.0), span(2, 0, 5.0, 9.0)]
        self.assertAlmostEqual(rollup.self_times(spans)[0], 2.0)

    def test_nested_spans(self):
        spans = [span(0, -1, 0.0, 10.0, "pipeline"), span(1, 0, 0.0, 6.0), span(2, 1, 1.0, 2.0)]
        st = rollup.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)


class Failures(unittest.TestCase):
    def test_counts_every_iteration(self):
        its = [{"attempted": 7, "failed": 0}, {"attempted": 7, "failed": 2}, {"attempted": 5, "failed": 5}]
        self.assertEqual(rollup.count_failures(its), (19, 7))


def iteration(wall, traced=False, phase="measure", cpu=2e9, peak=5e6, out=3e6, found=9, planted=10):
    return {"phase": phase, "traced": traced, "wall_s": wall, "attempted": 3, "failed": 0,
            "found": found, "planted": planted,
            "counters": {"cpu_ns": cpu, "peak_mem_bytes": peak, "output_bytes": out}}


class HarnessShare(unittest.TestCase):
    def test_largest_share_over_measured_iterations(self):
        its = [dict(iteration(2.0, phase="warmup"), harness_s=1.0),
               dict(iteration(2.0), harness_s=0.001), dict(iteration(4.0), harness_s=0.02)]
        self.assertAlmostEqual(rollup.harness_share(its), 0.005)


class EndToEnd(unittest.TestCase):
    def test_metrics_come_from_untraced_measured_iterations(self):
        res = {"input": {"rows": 1000, "bytes": 2e6},
               "setup": {"session_s": 1.0, "generate_s": [3.0, 1.0, 2.0], "warmup_s": 4.0},
               "iterations": [iteration(50.0, phase="warmup"), iteration(2.0), iteration(4.0),
                              iteration(3.0), iteration(99.0, traced=True)]}
        m = rollup.end_to_end(res)
        self.assertEqual(m["setup_s"], 1.0 + 2.0 + 4.0)
        self.assertEqual(m["wall_s"], 3.0)
        self.assertAlmostEqual(m["rows_per_s"], 1000 / 3.0)
        self.assertAlmostEqual(m["cpu_s"], 2.0)
        self.assertAlmostEqual(m["peak_mem_mb"], 5.0)
        self.assertAlmostEqual(m["storage_amp"], 1.5)
        self.assertAlmostEqual(m["recall"], 0.9)
        self.assertEqual(set(m), set(rollup.END_TO_END))

    def test_trace_overhead(self):
        res = {"iterations": [iteration(2.0), iteration(2.5, traced=True), iteration(2.2),
                              iteration(2.7, traced=True)]}
        self.assertAlmostEqual(rollup.trace_overhead_s(res), 2.6 - 2.1)


class PerLayer(unittest.TestCase):
    def test_layer_rollup(self):
        spans = [
            span(0, -1, 0.0, 10.0, "pipeline"),
            span(1, 0, 0.0, 4.0, "dedup", {"max_pair_rows": 100, "jobs": 3, "shuffle_write_bytes": 2e6,
                                          "duration_ms": 900, "run_ms": 700, "tasks": 4},
                 {"useful": 5}),
            span(2, 0, 4.0, 6.0, "dedup", {"max_pair_rows": 300, "jobs": 1}, {"useful": 15}),
            span(3, 0, 6.0, 9.0, "similarity", {"max_pair_rows": 50, "cpu_ns": 1.5e9}, {"result_rows": 10}),
            span(4, 0, 9.0, 9.5, "multimodal", {"heap_peak_bytes": 7e8, "peak_mem_bytes": 1e6}),
            span(5, 0, 9.5, 9.8, "multimodal", {"heap_peak_bytes": 9e8}),
        ]
        m = rollup.layer_metrics(spans)
        self.assertAlmostEqual(m["dedup.self_s"], 6.0)
        self.assertEqual(m["dedup.candidate_pairs"], 400)
        self.assertAlmostEqual(m["dedup.pair_yield"], 20 / 400)
        self.assertEqual(m["dedup.jobs"], 4)
        self.assertAlmostEqual(m["dedup.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["similarity.scored_per_result"], 5.0)
        self.assertAlmostEqual(m["similarity.cpu_s"], 1.5)
        self.assertAlmostEqual(m["multimodal.self_s"], 0.8)
        self.assertAlmostEqual(m["multimodal.peak_mem_mb"], 900.0)
        self.assertEqual(m["load.self_s"], 0.0)
        self.assertAlmostEqual(m["spark.task_overhead_s"], 0.2)
        self.assertEqual(m["spark.jobs"], 4)
        names = [f"{l}.{n}" for l, ns in rollup.LAYERS.items() for n in ns]
        self.assertEqual(sorted(m), sorted(names))
        self.assertEqual(len(names), 42)

    def test_per_layer_takes_median_over_traces(self):
        def trace(t, d):
            return [span(10 * t, -1, 0.0, 10.0, "pipeline", trace=f"w-{t}"),
                    span(10 * t + 1, 10 * t, 1.0, 1.0 + d, "load", trace=f"w-{t}")]
        res = {"spans": trace(1, 2.0) + trace(3, 4.0) + trace(5, 3.0)}
        self.assertAlmostEqual(rollup.per_layer(res)["load.self_s"], 3.0)

    def test_units(self):
        self.assertEqual(rollup.unit_of("dedup.self_s"), "s")
        self.assertEqual(rollup.unit_of("write.output_mb"), "MB")
        self.assertEqual(rollup.unit_of("dedup.pair_yield"), "ratio")
        self.assertEqual(rollup.unit_of("spark.jobs"), "count")


if __name__ == "__main__":
    unittest.main()
