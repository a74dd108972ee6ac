"""Per-layer metrics of a traced iteration. Every workload reports every
metric; a layer the workload does not exercise reads 0. LAYERS.md maps
each metric to the end-to-end metric and workload it should move."""

from __future__ import annotations

import os

from perfbench.probe import EAGER, LAZY, LOG_NAMES, dir_stats
from perfbench.stats import median, percentile, self_times, tail_level

SMALL_WAVE = 8  # a wave admitting at most this many urls is "small"


def _span_names() -> list[str]:
    names = [n for _m, _a, n in EAGER + LAZY]
    return names + [f"checkpoint.write_log.{n}" for n in LOG_NAMES]


def per_layer(it, untraced, after, tracer, nproc: int, peak_rss: int) -> dict:
    """``it`` is the traced iteration, ``untraced`` the iterations before
    it and ``after`` the untraced iteration that follows it."""
    crawls = it.crawls
    waves = [g for c in crawls for g in c.groups if g.label != "tail"]
    tails = [g for c in crawls for g in c.groups if g.label == "tail"]
    groups = waves + tails + ([it.extra["evict_group"]]
                              if it.extra.get("evict_group") else [])
    metrics = [m for c in crawls for m in c.result.metrics]
    first_extract = sum(m["phases"].get("extract", 0.0)
                        for m in crawls[0].result.metrics)
    phase = lambda k: sum(m["phases"].get(k, 0.0) for m in metrics)  # noqa: E731
    admitted = sum(m["n_admitted"] for m in metrics)
    deferred = sum(m["n_deferred"] for m in metrics)
    entities = sum(m["n_entities"] for m in metrics)
    small = [g.wall_s for g in waves if g.extra.get("n_admitted", 0) <= SMALL_WAVE]

    root = crawls[0].result.checkpoint_dir
    n_files, n_bytes = dir_stats(root)
    snaps = sorted(e for e in os.listdir(os.path.join(root, "snapshots"))
                   if e.startswith("wave="))
    bloom_bytes = dir_stats(os.path.join(root, "snapshots", snaps[-1], "bloom"))[1]

    pooled = [w for u in untraced for w in u.wave_s]
    q = tail_level(len(pooled)) or 0.5
    busy_ms = sum(g.run_ms for g in groups)
    span_s = self_times(tracer.spans)
    out = {
        "frontier.jobs_per_wave": (median([g.jobs for g in waves]), "count"),
        "frontier.stages_per_wave": (median([g.stages for g in waves]), "count"),
        "frontier.tail_jobs": (sum(g.jobs for g in tails), "count"),
        "frontier.small_wave_s": (median(small) if small else 0.0, "s"),
        "frontier.admit_s": (phase("admit"), "s"),
        "frontier.extract_s": (phase("extract"), "s"),
        "frontier.discover_state_s": (phase("discover_state"), "s"),
        "frontier.extract_share": (first_extract / it.crawl_s, "ratio"),
        "politeness.deferred_rows": (deferred, "count"),
        "politeness.admit_ratio": (admitted / max(admitted + deferred, 1), "ratio"),
        "checkpoint.files": (n_files, "count"),
        "checkpoint.bytes": (n_bytes, "bytes"),
        "bloom.state_bytes": (bloom_bytes, "bytes"),
        "seen.readmit_ratio": (it.extra.get("readmitted", 0)
                               / max(it.extra.get("seeds", 0), 1), "ratio"),
        "recrawl.refresh_s": (it.extra.get("refresh_s", 0.0), "s"),
        "extraction.pages_per_s": (admitted / phase("extract")
                                   if phase("extract") else 0.0, "pages/s"),
        "extraction.entities_per_page": (entities / max(admitted, 1), "ratio"),
        "spark.jobs": (sum(g.jobs for g in groups), "count"),
        "spark.tasks": (sum(g.tasks for g in groups), "count"),
        "spark.shuffle_read_bytes": (sum(g.shuffle_read_bytes for g in groups), "bytes"),
        "spark.shuffle_write_bytes": (sum(g.shuffle_write_bytes for g in groups), "bytes"),
        "spark.spill_bytes": (sum(g.spill_bytes for g in groups), "bytes"),
        "spark.task_busy_frac": (busy_ms / 1000 / (it.wall_s * nproc), "ratio"),
        "wave.p50_s": (median(pooled), "s"),
        "wave.tail_s": (percentile(pooled, q), "s"),
        "memory.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "trace.overhead_s": (it.wall_s - (untraced[-1].wall_s + after.wall_s) / 2, "s"),
    }
    for name in _span_names():
        key = name if name.endswith(".plan_s") else f"{name}.s"
        out[key] = (span_s.get(name, 0.0), "s")
    return out
