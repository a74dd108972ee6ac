"""Seen-filter A/B: the SAME multi-wave crawl under ``seen_filter="bloom"``
vs ``"cuckoo"`` — total wall, per-wave admit/discover_state means, prefilter
stats (maybe-slice size and false positives), and the visit-order sha, which
MUST be identical across variants (both are prefilters in front of the same
exact anti-join).

What the numbers mean: the cuckoo insert path is a per-item Python walk
inside the cogroup task (eviction chains are inherently sequential) where
the bloom ORs bit positions vectorized, so the cuckoo's update cost is the
price of deletability — this tool measures that price at crawl wave sizes,
and its FP column shows what 16-bit fingerprints buy over the bloom's
~k-hash bits per key.

Usage: python tools/bench_seen_filter.py [n_targets] [budget] [max_waves]
Prints one JSON line per variant.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_targets = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    budget = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    max_waves = int(sys.argv[3]) if len(sys.argv) > 3 else 12

    from wss_spark.crawl.frontier import CrawlConfig, run_crawl, visit_order
    from wss_spark.session import get_spark
    from wss_spark.synth import build_pages_df, seed_list

    # one task slot per core this process may run on
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="wss_seen_ab", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    pages = build_pages_df(spark, n_targets, seed=42).persist()
    pages.count()
    seeds = seed_list(n_targets, seed=42)

    for variant in ("bloom", "cuckoo"):
        cfg = CrawlConfig(
            budget=budget, n_buckets=64, m_bits=1 << 20,
            seen_filter=variant, cuckoo_slots=1 << 14,
            checkpoint_every=10, defer_logs=True, dedup_pages=False,
            max_waves=max_waves, track_bloom_stats=True,
            checkpoint_dir=tempfile.mkdtemp(prefix=f"wss_ab_{variant}_"),
        )
        t0 = time.time()
        res = run_crawl(spark, pages, seeds, cfg)
        wall = time.time() - t0
        order = visit_order(res.fetch_log)
        sha = hashlib.sha256("\n".join(order).encode()).hexdigest()[:12]
        ms = res.metrics
        tail = [m for m in ms if m["wave"] >= max(0, len(ms) - 5)]
        out = {
            "variant": variant,
            "waves": len(ms),
            "visited": len(order),
            "order_sha": sha,
            "wall_s": round(wall, 2),
            "admit_mean_tail": round(
                sum(m["phases"]["admit"] for m in tail) / len(tail), 3),
            "discover_state_mean_tail": round(
                sum(m["phases"]["discover_state"] for m in tail) / len(tail), 3),
            "n_maybe_total": sum(m.get("n_maybe") or 0 for m in ms),
            "n_fp_total": sum(m.get("n_bloom_fp") or 0 for m in ms),
        }
        print(json.dumps(out))


if __name__ == "__main__":
    main()
