"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics


# an untraced run: two passes of six executions, one every 2 s, the i-th
# taking 1 + i/100 s
E2E_RAW = {
    "session_start_s": [4.0, 0.1, 0.1], "prime": [{"query": "q", "s": 2.0, "error": ""}],
    "heap_used_mb": 80.0, "offheap_storage_mb": 0.0,
    "executions": [{"query": f"q{i % 6}", "pass": i // 6, "t0": 2.0 * i,
                    "t1": 2.0 * i + 1 + i / 100, "rows": 1} for i in range(12)],
}


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        ex = [dict(e, ok=(i != 3)) for i, e in enumerate(E2E_RAW["executions"])]
        m, notes = metrics.end_to_end(E2E_RAW, ex)
        v = {k: x[0] for k, x in m.items()}
        self.assertAlmostEqual(v["pass_s"], (11.05 + 11.11) / 2)
        self.assertAlmostEqual(v["query_p50_s"], 1.055)
        self.assertAlmostEqual(v["query_tail_s"], 1.01)
        self.assertEqual(v["setup_s"], 6.0)
        self.assertAlmostEqual(v["ok_ratio"], 11 / 12)
        self.assertEqual(v["retained_mb"], 80.0)
        self.assertIn("p16.7 of 12 executions, 10 beyond", notes)

    def test_too_few_samples_for_the_tail_rule(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end(E2E_RAW, [dict(e, ok=True) for e in E2E_RAW["executions"][:10]])


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(range(10)))
        # 11 samples: only the smallest has ten above it
        self.assertEqual(metrics.tail(range(11)), (0, 100 / 11, 10))

    def test_highest_such_percentile(self):
        v, p, above = metrics.tail(range(1, 101))
        self.assertEqual((v, p, above), (90, 90.0, 10))

    def test_ties_at_the_cut_move_it_down(self):
        # the 90th value ties with the ten above it, so only a lower
        # sample keeps ten strictly above
        xs = list(range(1, 90)) + [90] * 11
        v, p, above = metrics.tail(xs)
        self.assertEqual((v, above), (89, 11))
        self.assertAlmostEqual(p, 89.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertAlmostEqual(metrics.union_length([(1, 4), (2, 3)]), 3)
        self.assertEqual(metrics.union_length([]), 0)

    def test_union_touching_intervals(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (1, 2)]), 2)

    def test_self_time_subtracts_covered_part_only(self):
        # children overlap each other and stick out of the span
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]), 6)
        self.assertAlmostEqual(metrics.self_time((0, 10), []), 10)
        self.assertAlmostEqual(metrics.self_time((0, 10), [(-5, 20)]), 0)


class CoreBusyTest(unittest.TestCase):
    def test_ratio_of_task_time_to_core_time(self):
        # q1_agg-like: 0.96 s of task time in 1.03 s of jobs on 4 cores
        self.assertAlmostEqual(metrics.core_busy(0.96, 1.03, 4), 0.96 / 4.12)
        self.assertEqual(metrics.core_busy(1.0, 0.0, 4), 0.0)


class NameTest(unittest.TestCase):
    def test_names(self):
        for ok in ("pass_s", "task.core_busy", "9lives", "a-b.c_d", "x" * 64):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "x" * 65, "a b", "a/b", "é"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_benchmark_json_names(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        # the declared metrics are exactly the ones each mode reports, in
        # the declared units
        layer, _ = metrics.per_layer(PerLayerTest().raw())
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {k: u for k, (_, u) in layer.items()})
        e2e, _ = metrics.end_to_end(E2E_RAW, [dict(e, ok=True) for e in E2E_RAW["executions"]])
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})


class JudgeTest(unittest.TestCase):
    def execs(self):
        return [{"query": "a", "rows": 5}, {"query": "a", "rows": 5},
                {"query": "b", "rows": 2}, {"query": "c", "error": "boom"}]

    def test_forced_wrong_row_count_is_a_failure(self):
        ex = self.execs()
        ex[1]["rows"] = 4
        self.assertEqual(metrics.judge(ex, {"a": 5, "b": 2, "c": 1}, set()), (4, 2))
        self.assertEqual([e["ok"] for e in ex], [True, False, True, False])

    def test_wrong_full_output_fails_every_execution(self):
        ex = self.execs()
        self.assertEqual(metrics.judge(ex, {"a": 5, "b": 2, "c": 1}, {"a"}), (4, 3))

    def test_missing_oracle_is_a_failure(self):
        self.assertEqual(metrics.judge(self.execs(), {"a": 5}, set()), (4, 2))


class PerLayerTest(unittest.TestCase):
    def raw(self):
        # one traced execution: construct 0-1 with a job 0.2-0.6 (one
        # stage 0.3-0.5), execute 1-3 with two overlapping jobs whose
        # stages cover 1.2-2.6
        spans = [
            {"id": 1, "parent": None, "kind": "pass", "name": "0", "t0": 0.0, "t1": 3.0},
            {"id": 2, "parent": 1, "kind": "query", "name": "q", "t0": 0.0, "t1": 3.0},
            {"id": 3, "parent": 2, "kind": "phase", "name": "construct", "t0": 0.0, "t1": 1.0},
            {"id": 4, "parent": 2, "kind": "phase", "name": "analyze", "t0": 1.0, "t1": 1.0},
            {"id": 5, "parent": 2, "kind": "phase", "name": "optimize", "t0": 1.0, "t1": 1.0},
            {"id": 6, "parent": 2, "kind": "phase", "name": "plan", "t0": 1.0, "t1": 1.0},
            {"id": 7, "parent": 2, "kind": "phase", "name": "execute", "t0": 1.0, "t1": 3.0},
        ]
        stage = {"tasks": 2, "run_s": 0.5, "cpu_s": 0.4, "gc_s": 0.0, "shuffle_read_mb": 1.0,
                 "shuffle_write_mb": 1.0, "fetch_wait_s": 0.0, "spill_mb": 0.0, "scan_rows": 10}
        stages = [dict(stage, id=0, attempt=0, job=0, t0=0.3, t1=0.5),
                  dict(stage, id=1, attempt=0, job=1, t0=1.2, t1=2.0),
                  dict(stage, id=2, attempt=0, job=2, t0=1.8, t1=2.6)]
        jobs = [{"id": 0, "t0": 0.2, "t1": 0.6, "span": "3"},
                {"id": 1, "t0": 1.1, "t1": 2.1, "span": "7"},
                {"id": 2, "t0": 1.7, "t1": 2.7, "span": None}]
        ex = [{"query": "q", "pass": 0, "traced": True, "span": 2, "t0": 0.0, "t1": 3.1,
               "rows": 5, "exchanges": 1, "compiles": 0, "compile_s": 0.0,
               "storage_write_mb": 0.0, "storage_files": 0, "pinned_mb": 0.0,
               "stream_batches": 0, "stream_batch_s": 0.0},
              {"query": "q", "pass": 1, "traced": False, "t0": 4.0, "t1": 7.0, "rows": 5}]
        return {"spans": spans, "jobs": jobs, "stages": stages, "executions": ex,
                "table_loads": [{"table": "t", "s": 0.05, "jobs": 1}], "cores": 4}

    def test_layers_and_self_times(self):
        m, _ = metrics.per_layer(self.raw())
        v = {k: x[0] for k, x in m.items()}
        self.assertAlmostEqual(v["construct.s"], 1.0)
        self.assertEqual(v["construct.jobs"], 1)
        self.assertAlmostEqual(v["construct.job_s"], 0.4)
        self.assertAlmostEqual(v["construct.driver_s"], 0.6)
        # the job with no span property is placed by its start time
        self.assertEqual(v["exec.jobs"], 2)
        self.assertAlmostEqual(v["exec.job_s"], 1.6)
        self.assertAlmostEqual(v["exec.driver_s"], 0.4)
        self.assertAlmostEqual(v["self.job_s"], 0.2 + 0.2)
        self.assertAlmostEqual(v["self.stage_s"], 0.2 + 1.4)
        self.assertAlmostEqual(v["task.run_s"], 1.5)
        self.assertAlmostEqual(v["task.core_busy"], 1.5 / ((0.4 + 1.6) * 4))
        self.assertAlmostEqual(v["trace.self_sum_err"], 0.0)
        self.assertAlmostEqual(v["trace.overhead"], 3.1 / 3.0 - 1)

    def test_overhead_is_a_geometric_mean_of_per_query_ratios(self):
        ex = [{"query": "a", "traced": True, "t0": 0, "t1": 2.0},
              {"query": "a", "traced": False, "t0": 0, "t1": 1.0},
              {"query": "b", "traced": True, "t0": 0, "t1": 5.0},
              {"query": "b", "traced": False, "t0": 0, "t1": 10.0},
              {"query": "c", "traced": False, "t0": 0, "t1": 7.0}]
        self.assertAlmostEqual(metrics.overhead(ex), 0.0)

    def test_failed_execution_is_left_out(self):
        raw = self.raw()
        raw["executions"].append({"query": "q", "pass": 2, "traced": True, "span": 99,
                                  "t0": 8.0, "t1": 8.5, "error": "boom"})
        m, _ = metrics.per_layer(raw)
        self.assertAlmostEqual(m["construct.s"][0], 1.0)

    def test_job_outside_its_phase_shows_in_the_sum(self):
        raw = self.raw()
        raw["jobs"][0]["t1"] = 1.2  # a construct job running into execute
        m, notes = metrics.per_layer(raw)
        self.assertAlmostEqual(m["trace.self_sum_err"][0], 0.2 / 3.0)


if __name__ == "__main__":
    unittest.main()
