"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402
import stats  # noqa: E402


class MedianAndPercentile(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank_percentile(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90), (90, 10))
        self.assertEqual(stats.percentile(values, 50), (50, 50))
        self.assertEqual(stats.percentile([7], 90), (7, 0))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.highest_tail(list(range(100)), (90,)), (90, 89))
        self.assertIsNone(stats.highest_tail(list(range(99)), (90,)))
        self.assertEqual(stats.highest_tail(list(range(99)), (90, 75)), (75, 74))
        self.assertEqual(stats.highest_tail(list(range(1000))), (99, 989))
        self.assertEqual(stats.highest_tail(list(range(40))), (75, 29))
        self.assertIsNone(stats.highest_tail(list(range(15))))


def span(i, parent, kind, start, end, exec_id="q@1"):
    return {"id": i, "parent": parent, "kind": kind, "name": kind, "exec": exec_id,
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "exec", 0, 100),
                 span(2, 1, "job", 10, 50),
                 span(3, 1, "job", 30, 70),   # overlaps the first job
                 span(4, 2, "stage", 20, 40)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 40)          # 100 minus the 60 ms the jobs cover
        self.assertEqual(own[2], 20)
        self.assertEqual(own[3], 40)
        self.assertEqual(own[4], 20)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "exec", 0, 10), span(2, 1, "job", 5, 30)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_covered(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)


def execution(query, seq, traced, wall, warm=False):
    e = {"query": query, "pass": 0 if not warm else -1, "seq": seq, "warm": warm, "fresh": False,
         "traced": traced, "ok": True, "error": None, "wall_s": wall, "build_s": wall / 4,
         "app": f"app{seq}", "leftover": 0}
    if traced:
        e.update({"jobs": 2, "build_jobs": 1, "stages": 3, "tasks": 8, "task_s": wall / 2,
                  "task_wait_s": 0.01, "gc_s": 0.0, "shuffle_mb": 0.5, "spill_mb": 0.0,
                  "retries": 0, "exchanges": 2, "plan_s": 0.05, "batches": 0, "batch_s": 0.0})
    return e


def synthetic_run():
    execs, spans, seq = [], [], 0
    for q, wall in [("p106_kmeans_train", 1.0), ("h01", 0.4)]:
        seq += 1
        execs.append(execution(q, seq, False, wall * 2, warm=True))
        for traced in (False, True):
            seq += 1
            execs.append(execution(q, seq, traced, wall))
            if traced:
                ex = f"{q}@{seq}"
                base = len(spans)
                spans += [span(base + 1, 0, "exec", 0, 1000 * wall, ex),
                          span(base + 2, base + 1, "build", 0, 250 * wall, ex),
                          span(base + 3, base + 1, "materialize", 250 * wall, 1000 * wall, ex),
                          span(base + 4, base + 3, "job", 300 * wall, 900 * wall, ex),
                          span(base + 5, base + 4, "stage", 310 * wall, 800 * wall, ex)]
    setups = [{"rep": r, "session_s": 1.0, "warmup_s": 1.0, "fixture_s": 0.5, "setup_s": 2.5}
              for r in range(3)]
    return {"executions": execs, "spans": spans, "setups": setups}


class PrintedMetrics(unittest.TestCase):
    def test_every_declared_metric_is_printed_with_its_unit(self):
        declared = report.declared()
        raw = synthetic_run()
        cases = [(report.end_to_end(raw), declared["end_to_end"]),
                 (report.per_layer(raw, [0.1, 0.2], 0.5, 0.0), declared["per_layer"])]
        for metrics, wanted in cases:
            printed = json.loads(json.dumps(report.result(metrics, True, 4, 0)))["metrics"]
            self.assertEqual(sorted(printed), sorted(m["name"] for m in wanted))
            for m in wanted:
                self.assertEqual(printed[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(printed[m["name"]]["value"], (int, float))

    def test_warm_pass_is_not_timed(self):
        raw = synthetic_run()
        self.assertAlmostEqual(report.end_to_end(raw)["suite_s"], 1.4)
        self.assertAlmostEqual(report.per_layer(raw, [0.1], 0.5, 0.0)["query_p50_s"], 0.7)

    def test_tail_reports_its_sample_count(self):
        self.assertEqual(report.tail(synthetic_run()), {"executions": 2, "p": None, "value_s": None})

    def test_span_and_self_times(self):
        layer = report.per_layer(synthetic_run(), [0.1, 0.2], 0.5, 0.0)
        self.assertAlmostEqual(layer["exec.span_s"], 0.49 * 1.4)
        self.assertAlmostEqual(layer["self.materialize_s"], 0.15 * 1.4)
        self.assertAlmostEqual(layer["train_kmeans_s"], 1.0)
        self.assertEqual(layer["host.control_s"], 0.2)


class MemoGuards(unittest.TestCase):
    def test_first_execution_far_slower_is_a_suspect(self):
        execs = [execution("p110", 1, False, 9.0), execution("p110", 2, False, 0.1),
                 execution("p110", 3, False, 0.1), execution("h01", 4, False, 0.5),
                 execution("h01", 5, False, 0.4)]
        self.assertEqual(report.memo_suspects(execs), ["p110"])

    def test_fresh_context_hits(self):
        fresh = [execution("p110", 1, False, 9.0), execution("p110", 2, False, 8.0)]
        self.assertEqual(report.memo_hits(fresh), [])
        fast = fresh + [execution("p110", 3, False, 0.2)]
        self.assertEqual(len(report.memo_hits(fast)), 1)
        reused = fresh + [dict(execution("p110", 3, False, 8.5), app="app1")]
        self.assertEqual(len(report.memo_hits(reused)), 1)


if __name__ == "__main__":
    unittest.main()
