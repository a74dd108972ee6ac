"""Two-parallelism scaling evidence (BASELINE.md sandbox plan).

Runs the SAME job on the SAME input at local[8] and local[32]
(8 → 32 cores = N → 4N), in separate subprocesses (one JVM per master),
and reports:

- URLs fetched+deduped/sec at each level
- scaling efficiency = (T_4N / T_N) / 4  (target ≥ 0.8)
- whether the visit order and final seen set are identical at both levels
  (north rule: ordering is a pure function of data)

Modes:
- discovery mode (default): seeds = per-target entry urls, frontier expands
  wave by wave. Exercises ordering/politeness; at sandbox sizes it is
  latency-bound (per-wave fixed costs), so it under-reports scaling.
- bulk mode (`bulk` argv): seeds = the full url set (backfill / re-crawl
  configuration — the BASELINE metric's "10^10-URL frontier" drain).
  Compute-dominated → the honest parallel-efficiency measurement.
- bulkprof mode (`bulkprof` argv): bulk with CrawlConfig.profile_phases —
  forces materialization at sub-phase boundaries so the admit/discover
  walls can be ATTRIBUTED (p_dedup_bloom/p_seen_anti/
  p_fetch_log/p_seen_write/p_discover). The forcing changes execution;
  never report bulkprof walls as the scaling headline.
- stages mode (`stages` argv): times each pipeline constituent SEPARATELY on
  the same persisted pages table, so the scaling ceiling can be attributed
  per stage (ADVICE r01: substantiate the bandwidth argument per-stage):
    gen        distributed synthetic page generation (Python+Arrow out)
    extract    the extraction mapInArrow (html in, tall entities out)
    arrow_rt   identity mapInArrow round-trip of (url, html) — pure Arrow
               transport + Python iteration, zero parsing
    jvm        pure-JVM hash/aggregate over the same html bytes (no Python)
    pycpu      pure-Python CPU loop via mapInArrow over tiny input — Python
               process scaling with negligible memory traffic

Usage:
  python tools/bench_scaling.py [n_targets] [budget] [discovery|bulk|bulkprof|stages] [repeats]
  (budget 0 = unbounded; repeats > 1 alternates levels and keeps min wall —
  single-JVM runs are noisy, r01 used min-of-3)
Prints one JSON line; results recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
# tmpfs scratch: on one box the disk is shared across cores; shuffle/snapshot
# IO must not masquerade as a scaling ceiling (cluster disks scale with nodes)
if os.path.isdir("/dev/shm"):
    os.makedirs("/dev/shm/wss_bench", exist_ok=True)
    os.environ.setdefault("WSS_LOCAL_DIR", "/dev/shm/wss_bench/sparktmp")
    tempfile.tempdir = "/dev/shm/wss_bench"
# local mode = one JVM for everything: size the heap for the core count or
# 32 concurrent tasks get 4x less memory each than 8 and spill/GC-thrash
os.environ.setdefault("WSS_DRIVER_MEM", "48g")
from pyspark.sql import functions as F
from wss_spark.crawl.frontier import CrawlConfig, run_crawl, visit_order
from wss_spark.session import get_spark
from wss_spark.synth import build_pages_df, seed_list

cores = int(sys.argv[1]); n_targets = int(sys.argv[2])
budget = int(sys.argv[3]); mode = sys.argv[4]
spark = get_spark(app_name=f"scale{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=cores)
spark.sparkContext.setLogLevel("ERROR")

def noop(df):
    df.write.format("noop").mode("overwrite").save()

if mode == "stages":
    import pyarrow as pa
    from wss_spark.extraction.parse_page import parse_pages

    out = {{"cores": cores}}
    t0 = time.time()
    pages = build_pages_df(spark, n_targets, seed=42).persist()
    n_pages = pages.count()
    out["gen_s"] = round(time.time() - t0, 2)
    out["n_pages"] = int(n_pages)
    noop(pages)  # touch the cache once so later stages read warm

    t0 = time.time(); noop(parse_pages(pages))
    out["extract_s"] = round(time.time() - t0, 2)

    def ident(batches):
        for b in batches:
            urls = b.column(0).to_pylist(); htmls = b.column(1).to_pylist()
            ns = [len(h) for h in htmls]
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, type=pa.string()), pa.array(ns, type=pa.int64())],
                names=["url", "n"])
    t0 = time.time()
    noop(pages.select("url", "html").mapInArrow(ident, "url string, n long"))
    out["arrow_rt_s"] = round(time.time() - t0, 2)

    # fixed work, heavy enough (>10 s at 8 cores) that per-job fixed costs
    # don't drown the signal
    t0 = time.time()
    h = F.col("html")
    for _ in range(4):  # ~8 s of pure-JVM hashing at 8 cores
        h = F.sha2(F.base64(F.sha2(F.base64(h), 512)), 256)
    pages.select(h.alias("h"), F.length("text").alias("l")) \
         .agg(F.count(F.substring("h", 1, 4)), F.sum("l"), F.count("*")).collect()
    out["jvm_s"] = round(time.time() - t0, 2)

    def burn(batches):
        for b in batches:
            acc = 0
            for v in b.column(0).to_pylist():
                x = int(v)
                for _ in range(600000):
                    x = (x * 1103515245 + 12345) & 0xFFFFFFFF
                acc ^= x
            yield pa.RecordBatch.from_arrays([pa.array([acc], type=pa.int64())], names=["a"])
    t0 = time.time()
    noop(spark.range(0, 768, numPartitions=256)
              .select(F.col("id").cast("long")).mapInArrow(burn, "a long"))
    out["pycpu_s"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree("/dev/shm/wss_bench", ignore_errors=True)
    sys.exit(0)

bulk = mode.startswith("bulk")
if bulk:
    # production shape: the corpus lives in a url-bucketed store (the
    # Iceberg bucket(n, url) analog, wss_spark/bucketing.py) — the per-wave
    # fetch join scans the pages side in place and shuffles ONLY the
    # frontier. The unbucketed alternative re-shuffles the whole html
    # corpus inside the fetch join, a cost the engine's own storage design
    # exists to remove. Same n_buckets at both levels; write is setup,
    # outside the timed window.
    from wss_spark.bucketing import write_bucketed
    pages = write_bucketed(
        build_pages_df(spark, n_targets, seed=42), "pages_bulk",
        os.path.join(tempfile.mkdtemp(prefix="wss_pages_"), "t"),
        bucket_col="url", n_buckets=32, sort_cols=["url"])
else:
    pages = build_pages_df(spark, n_targets, seed=42).persist()
n_pages = pages.count()
seeds = pages.select("url") if bulk else seed_list(n_targets, seed=42)
# dedup_pages=False: the synthetic pages table is canonical (unique url),
# as an Iceberg warehouse table would be — the guard agg is ingest's job
cfg = CrawlConfig(budget=(None if budget <= 0 else budget), n_buckets=64,
                  m_bits=1 << 20, checkpoint_every=10, defer_logs=True,
                  dedup_pages=False,
                  # bulkprof: forced sub-phase materialization for cost
                  # attribution only — walls are NOT comparable to bulk
                  profile_phases=(mode == "bulkprof"),
                  # bulk = single-pass drain: no page-cache reuse to pay for
                  cache_pages=not bulk,
                  checkpoint_dir=tempfile.mkdtemp(prefix=f"wss_scale{{cores}}_"))
t0 = time.time()
res = run_crawl(spark, pages, seeds, cfg)
# materialize the full result (fetch log + seen) inside the timed window
n_urls = res.fetch_log.count()
wall = time.time() - t0
if bulk:
    # hashing 4M urls driver-side is its own bottleneck; hash distributed
    order_sha = str(res.fetch_log.orderBy(
        "wave", "priority", "seed_order", "stage", "page", "canon_url"
    ).select(F.md5(F.concat_ws("|", "wave", "canon_url")).alias("h"))
     .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)"))).first()[0])
    seen_sha = str(res.seen.select(
        F.sum(F.conv(F.substring(F.md5("canon_url"), 1, 15), 16, 10)
              .cast("decimal(38,0)")).alias("s")).first()[0])
else:
    order = visit_order(res.fetch_log)
    seen = sorted(r[0] for r in res.seen.select("canon_url").collect())
    order_sha = hashlib.sha256("\n".join(order).encode()).hexdigest()
    seen_sha = hashlib.sha256("\n".join(seen).encode()).hexdigest()
print(json.dumps({{
    "cores": cores, "wall_s": round(wall, 2), "n_urls": int(n_urls),
    "n_pages": int(n_pages),
    "urls_per_sec": round(n_urls / wall, 2), "waves": res.waves,
    "order_sha": order_sha, "seen_sha": seen_sha,
    "phases": [m["phases"] for m in res.metrics],
}}))
spark.stop()
shutil.rmtree("/dev/shm/wss_bench", ignore_errors=True)
"""


def run_level(cores: int, n_targets: int, budget: int, mode: str) -> dict:
    script = WORKER.format(repo=REPO)
    # pin the N-core leg to N physical cores: an unpinned local[8] borrows
    # all 32 cores' turbo/bandwidth during stalls and under-reports scaling —
    # "8 cores" must mean what an 8-core executor node gets
    prefix = ["taskset", "-c", f"0-{cores - 1}"] if cores < os.cpu_count() else []
    out = subprocess.run(
        prefix
        + [sys.executable, "-c", script, str(cores), str(n_targets), str(budget), mode],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker[{cores}] failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> None:
    n_targets = int(sys.argv[1]) if len(sys.argv) > 1 else 150
    budget = int(sys.argv[2]) if len(sys.argv) > 2 else 0  # 0 = unbounded
    mode = sys.argv[3] if len(sys.argv) > 3 else "discovery"
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    # N and 4N cores; default 8→32. The 2→8 pair is the cleaner probe on
    # this box: a pinned 8-core leg on an otherwise-idle 32-core host gets
    # the whole socket's memory bandwidth/LLC/turbo (resources a real
    # 8-core executor node would NOT have 4x of), deflating the 8→32
    # ratio below what the plan actually scales at.
    lo_cores = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    hi_cores = 4 * lo_cores
    lo_runs, hi_runs = [], []
    for _ in range(repeats):
        lo_runs.append(run_level(lo_cores, n_targets, budget, mode))
        hi_runs.append(run_level(hi_cores, n_targets, budget, mode))
    if mode == "stages":
        # per-stage min across repeats (host noise is independent per stage)
        keys = [k for k in lo_runs[0] if k.endswith("_s")]
        lo = dict(lo_runs[0])
        hi = dict(hi_runs[0])
        for k in keys:
            lo[k] = min(r[k] for r in lo_runs)
            hi[k] = min(r[k] for r in hi_runs)
    else:
        lo = min(lo_runs, key=lambda r: r["wall_s"])
        hi = min(hi_runs, key=lambda r: r["wall_s"])
        if repeats > 1:
            lo["all_walls"] = [r["wall_s"] for r in lo_runs]
            hi["all_walls"] = [r["wall_s"] for r in hi_runs]
    if mode == "stages":
        effs = {
            k[:-2]: round(lo[k] / hi[k] / 4, 3)
            for k in ("gen_s", "extract_s", "arrow_rt_s", "jvm_s", "pycpu_s")
        }
        print(json.dumps({
            "mode": mode, "n_targets": n_targets,
            f"local{lo_cores}": lo, f"local{hi_cores}": hi,
            "stage_scaling_efficiency": effs,
        }))
        return
    eff = (hi["urls_per_sec"] / lo["urls_per_sec"]) / 4
    print(
        json.dumps(
            {
                "mode": mode,
                "n_targets": n_targets,
                "budget": budget,
                f"local{lo_cores}": lo,
                f"local{hi_cores}": hi,
                "scaling_efficiency": round(eff, 3),
                "identical_order": lo["order_sha"] == hi["order_sha"],
                "identical_seen_set": lo["seen_sha"] == hi["seen_sha"],
            }
        )
    )


if __name__ == "__main__":
    main()
