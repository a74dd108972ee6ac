"""Per-wave phase-wall evidence: the append-only seen store keeps the
state-update cost O(wave), not O(total-crawled).

Runs a many-wave politeness-bounded discovery crawl (the configuration where
the seen store grows every wave) and prints one JSON line per wave with the
phase walls recorded in ``CrawlResult.metrics`` (admit / extract /
discover_state) plus the cumulative seen count. The r02 design rewrote the
full seen set every wave (``seen.unionByName(...)`` + eager localCheckpoint),
so its discover_state wall grew linearly with waves; the r03 append-only
bucket store appends only the wave's keys, so the wall must stay flat as
cumulative seen grows (BASELINE.md records the table).

Usage: python tools/bench_waves.py [n_targets] [budget] [max_waves] [bloom|cuckoo]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_targets = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    budget = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    max_waves = int(sys.argv[3]) if len(sys.argv) > 3 else 30
    seen_filter = sys.argv[4] if len(sys.argv) > 4 else "bloom"

    from wss_spark.crawl.frontier import CrawlConfig, run_crawl
    from wss_spark.session import get_spark
    from wss_spark.synth import build_pages_df, seed_list

    # one task slot per core this process may run on
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="wss_waves", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    pages = build_pages_df(spark, n_targets, seed=42).persist()
    pages.count()
    cfg = CrawlConfig(
        budget=budget, n_buckets=64, m_bits=1 << 20, checkpoint_every=10,
        seen_filter=seen_filter,
        defer_logs=True, dedup_pages=False, max_waves=max_waves,
        track_bloom_stats=True,
        checkpoint_dir=tempfile.mkdtemp(prefix="wss_waves_"),
    )
    res = run_crawl(spark, pages, seed_list(n_targets, seed=42), cfg)
    cum_seen = 0
    rows = []
    for m in res.metrics:
        cum_seen += m.get("n_new", m["n_admitted"])
        rows.append(
            {
                "wave": m["wave"],
                "n_frontier": m["n_frontier"],
                "n_admitted": m["n_admitted"],
                "cum_seen": cum_seen,
                "n_maybe": m.get("n_maybe"),
                "n_bloom_fp": m.get("n_bloom_fp"),
                **{k: m["phases"].get(k) for k in
                   ("admit", "extract", "discover_state")},
            }
        )
    print(json.dumps({"n_targets": n_targets, "budget": budget,
                      "waves": res.waves, "per_wave": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
