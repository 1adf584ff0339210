"""Self-tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def span(id_, parent, name, start, end):
    return {"id": id_, "parent": parent, "name": name, "start": start, "end": end}


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(metrics.tail(xs), (90.0, 90))  # p95 leaves 5 beyond, p90 leaves 10

    def test_larger_sample_moves_up(self):
        xs = list(range(1, 201))
        self.assertEqual(metrics.tail(xs), (95.0, 190))

    def test_falls_back_to_median_when_too_few(self):
        xs = [5, 1, 3, 2, 4]
        self.assertEqual(metrics.tail(xs), (50.0, 3))

    def test_exactly_ten_beyond_p75(self):
        xs = list(range(1, 41))  # p90 leaves 4, p75 leaves 10
        self.assertEqual(metrics.tail(xs), (75.0, 30))

    def test_nearest_rank_percentile(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50.0), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50.0), 2)
        self.assertEqual(metrics.percentile([7], 99.9), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, "run", 0, 100), span(1, 0, "pass", 10, 90),
                 span(2, 1, "construct", 10, 30), span(3, 1, "execute", 40, 90)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 20)
        self.assertEqual(st[1], 10)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, "execute", 0, 100), span(1, 0, "job", 10, 60),
                 span(2, 0, "job", 40, 80)]
        self.assertEqual(metrics.self_times(spans)[0], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, "construct", 0, 10), span(1, 0, "job", 5, 50)]
        self.assertEqual(metrics.self_times(spans)[0], 5)

    def test_jobs_attach_to_deepest_open_span(self):
        spans = [span(0, -1, "run", 0, 100), span(1, 0, "key.q", 0, 100),
                 span(2, 1, "construct", 0, 40), span(3, 1, "execute", 50, 100)]
        jobs = [{"start": 10, "end": 20}, {"start": 60, "end": 70}, {"start": 45, "end": 48}]
        out = metrics.attach_jobs(spans, jobs)
        parents = [s["parent"] for s in out if s["name"] == "job"]
        self.assertEqual(parents, [2, 3, 1])
        st = metrics.self_times(out)
        self.assertEqual(st[2], 30)  # construct: 40 minus one 10-long job

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([]), 0)


class FailureAccounting(unittest.TestCase):
    def test_clean_run(self):
        self.assertEqual(metrics.count_failures(30, []), (30, 0, True))

    def test_failures_of_one_op_count_once(self):
        fs = [{"op": "pass1/q_a", "reason": "hash"}, {"op": "pass1/q_a", "reason": "trunk"},
              {"op": "pass1/q_b", "reason": "error"}]
        self.assertEqual(metrics.count_failures(30, fs), (30, 2, False))

    def test_run_failure_fails_everything(self):
        fs = [{"op": "run", "reason": "no recorded result hashes"}]
        self.assertEqual(metrics.count_failures(12, fs), (12, 12, False))

    def test_attempted_is_at_least_one(self):
        fs = [{"op": "run", "reason": "aborted"}]
        self.assertEqual(metrics.count_failures(0, fs), (1, 1, False))

    def test_warmup_failures_never_exceed_attempted(self):
        fs = [{"op": f"pass0/q_{i}", "reason": "error"} for i in range(5)]
        self.assertEqual(metrics.count_failures(3, fs), (3, 3, False))


class EndToEnd(unittest.TestCase):
    def test_batch_metrics_use_untraced_ok_keys(self):
        key = lambda c, ok=True: {"construct_s": c, "plan_s": 0.0, "execute_s": 0.0, "ok": ok}
        art = {"workload": "iterative", "setup_s": [9.0, 2.0, 3.0], "heap_peak_mb": 100.0,
               "passes": [
                   {"traced": False, "pass_s": 4.0, "keys": [key(1.0), key(2.0), key(9.0, ok=False)]},
                   {"traced": True, "pass_s": 8.0, "keys": [key(5.0)]}]}
        e = metrics.end_to_end(art)
        self.assertEqual(e["metrics"]["setup_s"], 3.0)
        self.assertEqual(e["metrics"]["pass_s"], 4.0)
        self.assertEqual(e["metrics"]["op_p50_ms"], 1000.0)
        self.assertEqual(e["op_samples"], 2)


if __name__ == "__main__":
    unittest.main()
