"""Tests for the benchmark's pure parts: ``python -m pytest perfbench -q``."""

import pytest

from perfbench.stats import (
    GroupLedger,
    Span,
    StageRow,
    median,
    percentile,
    self_times,
    tail_level,
    union_length,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 4.0
    assert percentile(xs, 0.5) == 2.5
    assert percentile(xs, 0.25) == pytest.approx(1.75)
    assert median([5.0]) == 5.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


@pytest.mark.parametrize("n, level", [
    (19, None),    # not even the median has 10 samples above it
    (20, 0.5),
    (39, 0.5),
    (40, 0.75),
    (99, 0.75),
    (100, 0.9),
    (199, 0.9),
    (200, 0.95),
    (1000, 0.99),
])
def test_tail_level_needs_ten_samples_beyond(n, level):
    assert tail_level(n) == level


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(1, 2), (0, 5)]) == 5.0


def test_self_time_is_span_minus_union_of_children():
    spans = [
        Span("wave", 0.0, 10.0, None),
        Span("write_log", 1.0, 4.0, 0),
        Span("write_log", 3.0, 6.0, 0),   # overlaps its sibling
        Span("read", 2.0, 3.0, 1),        # grandchild: not subtracted from wave
        Span("snapshot", 8.0, 9.0, 0),
    ]
    got = self_times(spans)
    assert got["wave"] == pytest.approx(10.0 - 5.0 - 1.0)
    # same-name spans add up; each loses only its own children
    assert got["write_log"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert got["read"] == pytest.approx(1.0)
    assert got["snapshot"] == pytest.approx(1.0)


def test_self_times_of_nested_spans_add_up_to_the_root():
    spans = [Span("run", 0.0, 10.0, None), Span("a", 1.0, 4.0, 0),
             Span("b", 2.0, 3.0, 1), Span("c", 5.0, 9.0, 0)]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


def _stage(sid, status="COMPLETE", tasks=4, read=10, write=20, spill=0, ms=100):
    return StageRow(sid, 0, status, tasks, read, write, spill, ms)


def test_group_names_are_unique_across_runs():
    ledger = GroupLedger()
    names = [ledger.next_name(f"w{w}") for _run in range(3) for w in range(5)]
    assert len(set(names)) == len(names)


def test_group_ledger_counts_each_job_and_stage_once():
    ledger = GroupLedger()
    stages = {
        1: [_stage(10), _stage(11)],
        2: [_stage(11, status="SKIPPED", tasks=0), _stage(12)],
        3: [_stage(12), _stage(13, tasks=1)],  # 12 ran in job 2 already
    }
    w0 = ledger.close("w0", 1.0, [1, 2], stages)
    assert (w0.jobs, w0.stages, w0.tasks) == (2, 3, 12)
    assert (w0.shuffle_read_bytes, w0.shuffle_write_bytes, w0.run_ms) == (30, 60, 300)
    # the next group holds job 3 only; its reused stage 12 is not recounted
    w1 = ledger.close("w1", 1.0, [3], stages)
    assert (w1.jobs, w1.stages, w1.tasks) == (1, 1, 1)
    # a job listed again (a group read twice) adds nothing, never negative
    again = ledger.close("tail", 0.5, [3], stages)
    assert (again.jobs, again.stages, again.tasks) == (0, 0, 0)
    empty = ledger.close("w2", 0.1, [], stages)
    assert empty.jobs == 0 and empty.wall_s == 0.1


def test_group_ledger_sums_spill_and_retries():
    ledger = GroupLedger()
    stages = {7: [StageRow(5, 0, "FAILED", 2, spill_bytes=100),
                  StageRow(5, 1, "COMPLETE", 4, spill_bytes=50)]}
    g = ledger.close("w0", 1.0, [7], stages)
    assert (g.stages, g.tasks, g.spill_bytes) == (2, 6, 150)
