"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def op(i, name, build, exe, release=0.0, pass_=0, error=None, family="x"):
    return {"op": i, "name": name, "pass": pass_, "traced": False,
            "family": family, "build_s": build, "exec_s": exe,
            "release_s": release, "error": error,
            "live_checkpoints": None, "cached_mb": None}


class TailRule(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        values = [float(v) for v in range(1, 101)]
        value, pct = metrics.tail(values)
        self.assertEqual(value, 90.0)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_rank_moves_with_sample_count(self):
        values = [float(v) for v in range(1, 41)]
        value, pct = metrics.tail(values)
        self.assertEqual(value, 30.0)
        self.assertEqual(pct, 75.0)

    def test_smallest_sample_that_has_a_tail(self):
        self.assertEqual(metrics.tail([5.0] * 10 + [1.0]), (1.0, 100.0 / 11))
        self.assertIsNone(metrics.tail([1.0] * 10))

    def test_input_order_does_not_matter(self):
        values = [3.0, 1.0, 2.0] * 7
        self.assertEqual(metrics.tail(values), metrics.tail(sorted(values)))


class FailureAccounting(unittest.TestCase):
    def setUp(self):
        self.ops = [op(0, "q_a", 1.0, 1.0), op(1, "q_b", 9.0, 9.0, error="boom"),
                    op(2, "q_c", 2.0, 2.0), op(3, "q_a", 1.0, 1.0)]

    def test_failed_op_is_attempted_and_left_out_of_latency(self):
        ok, failures = metrics.account(self.ops, {})
        self.assertEqual([f["name"] for f in failures], ["q_b"])
        self.assertEqual(failures[0]["cause"], "boom")
        self.assertEqual(len(ok) + len(failures), len(self.ops))
        e2e, extra = metrics.end_to_end(
            self.ops, failures, {"setup_s": 1.0, "peak_rss_mb": 1.0})
        self.assertEqual(extra["latency_samples"], 3)
        self.assertEqual(e2e["latency_p50_s"][0], 2.0)

    def test_wrong_result_fails_every_op_of_the_query(self):
        _, failures = metrics.account(self.ops, {"q_a": "oracle mismatch"})
        self.assertEqual(sorted(f["op"] for f in failures), [0, 1, 3])

    def test_failed_op_time_counts_but_not_its_completion(self):
        _, failures = metrics.account(self.ops, {})
        rate = metrics.ops_per_s(self.ops, {f["op"] for f in failures})
        self.assertEqual(rate, 3 / 26.0)


class SeededOrder(unittest.TestCase):
    MIX = [f"q_{i}" for i in range(12)]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.schedule(self.MIX, 7, 3),
                         metrics.schedule(self.MIX, 7, 3))

    def test_different_seed_different_order(self):
        self.assertNotEqual(metrics.schedule(self.MIX, 7, 3)[1],
                            metrics.schedule(self.MIX, 8, 3)[1])

    def test_every_pass_is_a_permutation_of_the_mix(self):
        warmup, passes = metrics.schedule(self.MIX, 3, 4)
        self.assertEqual(sorted(warmup), sorted(self.MIX))
        for p in passes:
            self.assertEqual(sorted(p), sorted(self.MIX))
        self.assertEqual(len({tuple(p) for p in passes}), 4)

    def test_dag_runs_at_a_fixed_share_and_seeded_positions(self):
        _, a = metrics.schedule(self.MIX, 1, 5, "dag", 2)
        _, b = metrics.schedule(self.MIX, 2, 5, "dag", 2)
        for p in a + b:
            self.assertEqual(p.count("dag"), 2)
            self.assertEqual(len(p), len(self.MIX) + 2)
        positions = [[i for i, q in enumerate(p) if q == "dag"] for p in a]
        self.assertNotEqual(positions,
                            [[i for i, q in enumerate(p) if q == "dag"] for p in b])


class TraceOrder(unittest.TestCase):
    def test_balanced_untraced_traced_order(self):
        self.assertEqual(metrics.trace_kinds(4), [False, True, True, False])

    def test_neither_kind_runs_later_on_average(self):
        kinds = metrics.trace_kinds(8)
        traced = [i for i, k in enumerate(kinds) if k]
        untraced = [i for i, k in enumerate(kinds) if not k]
        self.assertEqual(len(traced), len(untraced))
        self.assertEqual(sum(traced), sum(untraced))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, name="s"):
        return {"id": i, "op": 0, "name": name, "parent": parent,
                "start": start, "end": end}

    def test_nested_spans(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 5.0, 9.0), self.span(3, 2, 6.0, 7.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_overlapping_children_count_once_and_clip_to_parent(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 2.0, 6.0),
                 self.span(2, 0, 4.0, 8.0), self.span(3, 0, 9.0, 12.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3.0)


class PerLayer(unittest.TestCase):
    # A traced pass (ops 0-1, the DAG split into its stages) and an
    # untraced one (ops 2-4, the DAG run as Pipeline.run).
    OPS = [dict(op(0, "q_pipeline_e2e", 3.0, 1.0, 0.5, family="pipeline"), traced=True),
           dict(op(1, "q_k1", 1.0, 1.0, family="k"), traced=True),
           op(2, "q_k1", 0.5, 0.5, pass_=1, family="k"),
           op(3, "q_pipeline_e2e", 2.0, 0.5, pass_=1, family="pipeline"),
           op(4, "q_pipeline_e2e", 2.5, 0.5, pass_=1, family="pipeline")]

    def test_pipeline_stages_and_phases(self):
        ops = self.OPS
        spans = [
            {"id": 0, "op": 0, "name": "op", "parent": -1, "start": 0.0, "end": 4.5},
            {"id": 1, "op": 0, "name": "build", "parent": 0, "start": 0.0, "end": 3.0},
            {"id": 2, "op": 0, "name": "pipeline.csv", "parent": 1, "start": 0.0, "end": 1.0},
            {"id": 3, "op": 0, "name": "pipeline.csv", "parent": 1, "start": 1.0, "end": 2.9},
            {"id": 4, "op": 0, "name": "exec", "parent": 0, "start": 3.0, "end": 4.0},
            {"id": 5, "op": 0, "name": "pipeline.serve", "parent": 4, "start": 3.0, "end": 4.0},
        ]
        ledger = [{"group": "0|op/build/pipeline.csv", "jobs": 2, "task_ms": 4000,
                   "input_bytes": 1048576, "output_bytes": 2097152},
                  {"group": "0|op/exec/pipeline.serve", "jobs": 1, "task_ms": 1000}]
        m = metrics.per_layer(ops, spans, ledger, [], {"cores": 2, "peak_rss_mb": 9.0},
                              ["x", "k", "pipeline"])
        self.assertAlmostEqual(m["pipeline.csv_s"][0], 2.9)
        self.assertAlmostEqual(m["pipeline.stage_coverage"][0], 3.9 / 4.0)
        self.assertEqual(m["spark.build.jobs"][0], 2)
        self.assertEqual(m["spark.exec.jobs"][0], 1)
        self.assertAlmostEqual(m["spark.build.core_util"][0], 4.0 / (4.0 * 2))
        self.assertAlmostEqual(m["sources.write_amp"][0], 2.0)
        self.assertEqual(m["packs.k.build_s"][0], 1.0)
        self.assertEqual(m["packs.x.build_s"][0], 0.0)

    def test_dag_latency_comes_from_untraced_runs(self):
        m = self.layers()
        self.assertAlmostEqual(m["pipeline.dag_s_p50"][0], 2.75)

    def test_tracing_overhead_leaves_out_the_dag(self):
        m = self.layers()
        self.assertAlmostEqual(m["trace.ops_per_s"][0], 0.5)
        self.assertAlmostEqual(m["trace.untraced_ops_per_s"][0], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.5)

    def layers(self):
        return metrics.per_layer(self.OPS, [], [], [], {"cores": 2, "peak_rss_mb": 9.0},
                                 ["k", "pipeline"])


if __name__ == "__main__":
    unittest.main()
