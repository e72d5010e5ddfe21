"""Interval-union, driver-gap and self-time arithmetic on hand-built spans.

    python3 -m pytest perfbench/test_spans.py -q
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, self_time, sum_by_name, union_length  # noqa: E402


def test_union_merges_overlaps_and_clips():
    assert union_length([], 0.0, 10.0) == 0.0
    assert union_length([(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)], 0.0, 10.0) == 5.0
    # touching intervals merge; nested ones count once
    assert union_length([(0.0, 2.0), (2.0, 4.0), (1.0, 1.5)], 0.0, 10.0) == 4.0
    # clipped to the window; intervals outside it count nothing
    assert union_length([(-5.0, 1.0), (9.0, 20.0), (30.0, 40.0)], 0.0, 10.0) == 2.0
    # unsorted input
    assert union_length([(6.0, 7.0), (0.0, 1.0), (0.5, 2.0)], 0.0, 10.0) == 3.0


def test_driver_gap_is_wall_not_covered_by_jobs():
    s = Span(0, "crawl.engine.run_epoch.e0", "r", None, 100.0, 110.0,
             job_intervals=[(101.0, 104.0), (103.0, 105.0), (108.0, 112.0)])
    assert s.wall_s == 10.0
    assert s.jobs == 3
    # jobs cover 101-105 and 108-110 inside the span: 6 s of 10
    assert s.driver_gap_s == 4.0


def test_self_time_subtracts_direct_children_only():
    root = Span(0, "crawl.engine.run_crawl", "r", None, 0.0, 20.0)
    seed = Span(1, "crawl.engine.seed_crawl", "r", 0, 1.0, 3.0)
    epoch = Span(2, "crawl.engine.run_epoch.e0", "r", 0, 3.0, 12.0)
    inner = Span(3, "inner", "r", 2, 4.0, 6.0)  # grandchild: inside epoch
    spans = [root, seed, epoch, inner]
    assert self_time(root, spans) == 20.0 - 2.0 - 9.0
    assert self_time(epoch, spans) == 9.0 - 2.0
    assert self_time(inner, spans) == 2.0


def test_sum_by_name_adds_repeated_calls_and_zeroes_absent_ones():
    a = Span(0, "operators.extract.extract_from_urls", "r", None, 0.0, 2.0,
             job_intervals=[(0.5, 1.5)], stages=1, tasks=4, exec_run_s=3.0)
    b = Span(1, "operators.extract.extract_from_urls", "r", None, 5.0, 6.0,
             job_intervals=[(5.0, 6.0)], stages=1, tasks=4, exec_run_s=2.0)
    got = sum_by_name([a, b], "operators.extract.extract_from_urls")
    assert got["wall_s"] == 3.0
    assert got["jobs"] == 2 and got["stages"] == 2 and got["tasks"] == 8
    assert got["exec_run_s"] == 5.0
    assert got["driver_gap_s"] == 1.0
    assert set(sum_by_name([a, b], "queries.q01_pricing_summary").values()) == {0.0}
