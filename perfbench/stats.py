"""Pure helpers of the benchmark: percentiles, span self time and Spark
job-group accounting. Nothing here touches Spark, so the rules are unit
tested on their own (``python -m pytest perfbench -q``)."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

TAIL_LEVELS = (99, 95, 90, 75, 50)  # percent


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def tail_level(n: int, min_beyond: int = 10) -> float | None:
    """The highest level in TAIL_LEVELS with at least ``min_beyond`` of
    ``n`` samples above it, or None when not even the median has that many.
    A p90 read from 20 samples is the second-largest sample, which is noise;
    this rule only names a percentile the data can support."""
    for p in TAIL_LEVELS:
        if n * (100 - p) >= 100 * min_beyond:
            return p / 100
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the span list, None for a root span


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's length minus the
    union of its direct children. When siblings do not overlap, the self
    times under a root span add up to its length: nested calls are not
    counted twice."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - union_length(children.get(i, []))
        out[s.name] = out.get(s.name, 0.0) + max(own, 0.0)
    return out


@dataclass
class StageRow:
    stage_id: int
    attempt: int
    status: str
    tasks: int
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0


@dataclass
class GroupTotals:
    label: str
    wall_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    extra: dict = field(default_factory=dict)


class GroupLedger:
    """Attributes Spark jobs to closed job groups.

    Each group is read once, when it closes, from the job ids Spark lists
    for it — a per-group delta, never a difference of cumulative counters
    (the status store retains only the last ~1000 jobs, so a cumulative
    counter taken late can go backwards). A stage is counted once per
    ledger: a later job that lists an already-run stage (a reused shuffle,
    shown as SKIPPED) adds nothing. Group names carry a ledger-wide
    sequence number, so two runs in one process never share a name."""

    def __init__(self):
        self.seq = 0
        self.counted_stages: set[tuple[int, int]] = set()
        self.counted_jobs: set[int] = set()

    def next_name(self, label: str) -> str:
        self.seq += 1
        return f"perfbench{self.seq:05d}-{label}"

    def close(self, label: str, wall_s: float, job_ids: list[int],
              stages_of_job: dict[int, list[StageRow]]) -> GroupTotals:
        g = GroupTotals(label=label, wall_s=wall_s)
        for j in sorted(job_ids):
            if j in self.counted_jobs:
                continue
            self.counted_jobs.add(j)
            g.jobs += 1
            for st in stages_of_job.get(j, []):
                key = (st.stage_id, st.attempt)
                if st.status == "SKIPPED" or key in self.counted_stages:
                    continue
                self.counted_stages.add(key)
                g.stages += 1
                g.tasks += st.tasks
                g.shuffle_read_bytes += st.shuffle_read_bytes
                g.shuffle_write_bytes += st.shuffle_write_bytes
                g.spill_bytes += st.spill_bytes
                g.run_ms += st.run_ms
        return g
