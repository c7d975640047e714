"""Tests for the benchmark's metric helpers.

    python3 graftbench/test_metrics.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def span(i, start, end, parent=-1, name="s"):
    return {"id": i, "name": name, "parent": parent, "req": -1, "start": start, "end": end}


class UnionLength(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 1)]), 2)

    def test_touching_and_degenerate(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(metrics.union_length([(4, 4), (6, 2)]), 0)
        self.assertEqual(metrics.union_length([]), 0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [span(0, 0, 100), span(1, 10, 40, 0), span(2, 30, 60, 0), span(3, 35, 38, 1)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover 10..60
        self.assertEqual(st[1], 30 - 3)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 3)

    def test_child_clipped_to_parent(self):
        st = metrics.self_times([span(0, 0, 10), span(1, 8, 20, 0)])
        self.assertEqual(st[0], 8)


class CpuPerOp(unittest.TestCase):
    def test_median_per_kind_then_mean(self):
        def op(kind, ms, ok=True):
            return {"template": kind, "cpu_ns": ms * 1e6, "ok": ok}
        raw = {"ops": [op("a", 10), op("a", 12), op("a", 90), op("b", 30), op("b", 30), op("b", 1, ok=False)],
               "window_cpu_ns": {"process": 500e6, "gc": 20e6, "jit": 80e6}}
        self.assertEqual(metrics.cpu_ms_per_op(raw), (12 + 30) / 2)
        # Failures carry kind b's median: the whole window's CPU time.
        raw["ops"][3]["ok"] = False
        self.assertEqual(metrics.cpu_ms_per_op(raw), 400)


class Attribution(unittest.TestCase):
    def raw(self, jobs):
        spans = [span(0, 100, 200, name="request"), span(1, 110, 150, 0, name="search.exec")]
        return {"window": [100, 300], "spans": spans, "jobs": jobs}

    def job(self, i, start, end, s):
        return {"id": i, "start": start, "end": end, "span": s, "tasks": 1, "records_read": 0}

    def test_driver_gap_is_wall_minus_job_union(self):
        t = metrics.Trace(self.raw([self.job(0, 120, 140, 1), self.job(1, 130, 150, 1), self.job(2, 160, 170, 0)]))
        request = t.named("request")[0]
        self.assertEqual(len(t.jobs_under(request)), 3)
        self.assertEqual(t.driver_gap(request), 100 - 40)

    def test_stale_span_falls_back_to_open_ancestor(self):
        # Job 0 carries search.exec after it ended while its request is still
        # open; job 1 carries no span; job 3 carries search.exec after the
        # request ended too (a pooled thread reused later).
        t = metrics.Trace(self.raw([self.job(0, 180, 190, 1), self.job(1, 120, 130, -1),
                                    self.job(2, 120, 125, 1), self.job(3, 250, 260, 1)]))
        self.assertEqual(t.unattributed, 2)
        self.assertEqual(t.jobs_total("search.exec"), 1)
        self.assertEqual(t.jobs_total("request"), 1)


if __name__ == "__main__":
    unittest.main()
