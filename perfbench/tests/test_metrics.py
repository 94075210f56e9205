"""Unit tests of the benchmark's arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(id, parent, name, t0, t1, **attrs):
    return {"id": id, "parent": parent, "name": name, "t0": t0, "t1": t1, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(v, 0.5), 5)
        self.assertEqual(metrics.percentile(v, 0.9), 9)
        self.assertEqual(metrics.percentile(v, 1.0), 10)
        self.assertEqual(metrics.percentile(v, 0.01), 1)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.percentile([0.4, 0.1, 0.3, 0.2], 0.5), 0.2)

    def test_returns_a_sample(self):
        v = [0.3, 0.7, 1.1, 2.9, 5.0]
        for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            self.assertIn(metrics.percentile(v, q), v)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        parent = span(1, 0, "exec", 0, 100)
        kids = [span(2, 1, "job", 10, 40), span(3, 1, "job", 30, 50), span(4, 1, "job", 70, 80)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 50)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, 0, "exec", 100, 200)
        kids = [span(2, 1, "job", 50, 120), span(3, 1, "job", 190, 260)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 30)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_time(span(1, 0, "op", 5, 9), []), 4)


def record(passes, **extra):
    r = {"setups": [{"create_s": 5.0, "warmup_s": 6.0}, {"create_s": 0.1, "warmup_s": 1.0},
                    {"create_s": 0.2, "warmup_s": 1.1}],
         "rss_peak_mb": 1000.0, "cpus": 4, "stored_bytes": 50, "stored_row_bytes": 100,
         "serve_queries": ["q_idx"], "passes": passes}
    r.update(extra)
    return r


def op(name, lat, layer="queries", **attrs):
    return dict({"name": name, "lat_s": lat, "layer": layer, "ok": True, "evicted": 0}, **attrs)


class EndToEndTest(unittest.TestCase):
    def test_metrics_come_from_untraced_warm_passes(self):
        # the traced pass (99 s) must not leak into any end-to-end figure
        passes = [
            {"pass": 0, "kind": "cold", "traced": False, "wall_s": 9.0, "cpu_s": 30.0,
             "ops": [op("a", 9.0)]},
            {"pass": 1, "kind": "warm", "traced": False, "wall_s": 3.0, "cpu_s": 8.0,
             "ops": [op("a", 1.0), op("b", 2.0)]},
            {"pass": 2, "kind": "warm", "traced": True, "wall_s": 99.0, "cpu_s": 99.0,
             "ops": [op("a", 99.0)]},
            {"pass": 3, "kind": "warm", "traced": False, "wall_s": 4.0, "cpu_s": 10.0,
             "ops": [op("a", 1.5), op("b", 2.5)]},
        ]
        m, info = metrics.end_to_end(record(passes))
        self.assertAlmostEqual(m["setup_s"], 1.3)  # median of 11.0, 1.1, 1.3
        self.assertEqual(m["pass_cpu_s"], 9.0)
        self.assertEqual(m["cold_pass_cpu_s"], 30.0)
        self.assertEqual(info["pass_s"], 3.5)
        self.assertEqual(info["cold_pass_s"], 9.0)
        self.assertEqual(info["op_p50_s"], 1.5)
        self.assertEqual(info["op_p90_s"], 2.5)
        self.assertEqual(info["op_samples"], 4)


class PerLayerTest(unittest.TestCase):
    def test_tree_attribution(self):
        # one traced warm pass with one op: build (one eager job) then exec
        # (two overlapping jobs, one single-task stage each)
        spans = [
            span(1, 0, "op", 0, 1_000_000, op=1, pass_=2),
            span(2, 1, "build", 0, 200_000),
            span(3, 1, "exec", 200_000, 1_000_000),
            span(4, 2, "plan.analysis", 10_000, 20_000),
            span(5, 3, "plan.optimization", 200_000, 250_000),
            span(6, 3, "plan.planning", 250_000, 300_000),
            span(7, 2, "job", 100_000, 150_000),
            span(8, 3, "job", 300_000, 600_000),
            span(9, 3, "job", 500_000, 800_000),
            span(10, 8, "stage", 300_000, 600_000, num_tasks=1, tasks=1, task_run_s=0.3),
            span(11, 9, "stage", 500_000, 800_000, num_tasks=4, tasks=4, task_run_s=1.2),
        ]
        for s in spans:
            if s["name"] == "op":
                s["attrs"] = {"op": 1, "pass": 2, "name": "q", "layer": "queries"}
        passes = [
            {"pass": 0, "kind": "cold", "traced": True, "wall_s": 2.0, "cpu_s": 5.0,
             "ops": [op("q_idx", 2.0)]},
            {"pass": 1, "kind": "warm", "traced": False, "wall_s": 0.9, "cpu_s": 2.0,
             "ops": [op("q_idx", 0.5)]},
            {"pass": 2, "kind": "warm", "traced": True, "wall_s": 1.0, "cpu_s": 2.5,
             "ops": [op("q_idx", 0.6)]},
            {"pass": 3, "kind": "warm", "traced": False, "wall_s": 0.8, "cpu_s": 2.0,
             "ops": [op("q_idx", 0.4)]},
        ]
        m = metrics.per_layer(record(passes), spans)
        self.assertAlmostEqual(m["queries.build_s"], 0.2)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertAlmostEqual(m["plan.plan_s"], 0.11)
        self.assertAlmostEqual(m["exec.exec_s"], 0.8)
        self.assertAlmostEqual(m["exec.busy_s"], 0.5)      # union of 0.3-0.6 and 0.5-0.8
        self.assertAlmostEqual(m["exec.gap_s"], 0.3)
        self.assertAlmostEqual(m["exec.self_s"], 0.2)      # minus plan phases and jobs
        self.assertEqual(m["exec.jobs"], 3)
        self.assertEqual(m["exec.tasks"], 5)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.5)
        self.assertAlmostEqual(m["exec.core_util"], 1.5 / (1.0 * 4))
        self.assertAlmostEqual(m["exec.single_task_stage_s"], 0.3)
        self.assertAlmostEqual(m["serve.index_build_s"], 2.0 - 0.6)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.2)  # pass 1 left out
        self.assertAlmostEqual(m["sources.bytes_stored_ratio"], 0.5)
        self.assertEqual(m["mem.rss_peak_mb"], 1000.0)
        self.assertEqual(m["jvm.cpu_s"], 2.5)


if __name__ == "__main__":
    unittest.main()
