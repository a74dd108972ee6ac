"""The crawl wave engine: frontier → seen-filter → politeness → fetch →
extract → discover, checkpointed per wave.

This is the distributed re-expression of the reference's fetch loops
(`独立版/WeiboDeepAnalyzer.py:693-736`, `独立版/(using)WeiboUserScrapy.py:525-546`):
"fetch" is a join of the admitted frontier against the pages table (the
sandbox has no live HTTP; at production the join target is the warehouse's
fetched-pages Iceberg table and misses go to a fetcher service).

Determinism (north rule): the visit order is
``(wave, priority, seed_order, stage, page, canon_url)`` — a pure function of
the data. Parallelism level, partition count, AQE decisions, and bloom
parameters change none of it (equivalence tests pin this against the
single-threaded simulator and across local[4]/local[8]).

Scale notes (10^10-URL frontier):
- every join/dedup keys on ``canon_url`` / (bucket, url_hash) — salted-hash
  distributed, never host-keyed (one hot host would collapse a host-keyed
  shuffle to one task; see politeness.per_host_topk for the two-phase rank).
- the bloom prefilter keeps the exact seen anti-join off the definitely-new
  majority; the exact join runs only on the maybe-seen slice.
- per-wave state is snapshot-checkpointed and read back, which both truncates
  DataFrame lineage (no ever-growing plans) and makes every wave resumable.
"""

from __future__ import annotations

import tempfile
import time
from dataclasses import dataclass, field
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wss_spark.crawl import bloom, checkpoint, cuckoo
from wss_spark.crawl.discover import discover, seeds_frontier_from_df, seeds_to_frontier
from wss_spark.crawl.politeness import (
    ORDER_COLS,
    host_budgets,
    robots_gate,
    split_by_budget,
)
from wss_spark.extraction.kernel import ANCHOR
from wss_spark.extraction.parse_page import parse_pages
from wss_spark.functions.urls import DEFAULT_SALT
from wss_spark.schema import SEEN_URLS


@dataclass
class CrawlConfig:
    # politeness: max fetches per host per wave. None = unbounded (throughput
    # mode): admission skips ranking entirely — with no cap there is no
    # top-k to compute, and the per-host exact rank window would otherwise
    # serialize the hot host (the exact skew the north rule forbids).
    budget: int | None = 8
    max_waves: int = 200
    # a wave models this many seconds of politeness window: a host whose
    # robots row declares crawl_delay=d admits ≤ floor(wave_seconds/d) per
    # wave (clamped to [1, budget]; politeness.host_budgets)
    wave_seconds: float = 30.0
    # broadcast the admitted set for the deferred anti-join (right while
    # budget × n_hosts stays control-plane-small); False lets AQE pick when
    # the host set is unbounded (ADVICE r03 #1)
    broadcast_admitted: bool = True
    n_buckets: int = 64              # bloom/seen partitions (prod: 16384)
    m_bits: int = 1 << 20            # bloom bits per bucket (prod: 1<<23)
    bloom_k: int = 6
    # seen-prefilter variant (north rule: "bloom/cuckoo URL-seen filter"):
    # "bloom" = OR-only bitmaps (default), "cuckoo" = fingerprint tables
    # (crawl/cuckoo.py — deletable, enabling filter-level seen eviction for
    # refresh passes). Both are prefilters in front of the SAME exact
    # anti-join, so crawl order and the seen set are identical under either
    # (pinned by tests/test_crawl.py). A resume must use the variant the
    # snapshot was written with — the state schemas differ.
    seen_filter: str = "bloom"
    cuckoo_slots: int = 1 << 14      # cuckoo rows per bucket (prod: 1<<18)
    cuckoo_slot_width: int = 4
    cuckoo_max_kicks: int = 500
    n_salts: int = 16                # two-phase rank salt slices
    salt: int = DEFAULT_SALT
    now: datetime = ANCHOR
    checkpoint_dir: str | None = None
    checkpoint_every: int = 4        # snapshot cadence in waves
    # defer per-wave FETCH-log writes: keep them as persisted DataFrames and
    # union at the end, cutting per-wave latency for throughput benchmarks;
    # per-wave appends (default) are the resumable production path. The
    # entities log is written per wave regardless — the parquet write is the
    # extraction's materialization point (see step 6), not an extra cost.
    defer_logs: bool = False
    # the pages table is normally the warehouse's canonical store (unique by
    # url — Iceberg MERGE at ingest guarantees it). dedup_pages=True guards
    # against a non-canonical input at the cost of a sort-aggregate over the
    # html payload (first(html) per url): binary first() cannot hash-agg, so
    # it double-sorts the full payload — skip it when the input is known
    # canonical.
    dedup_pages: bool = True
    # seen-store small-file maintenance on the snapshot cadence (see
    # checkpoint.compact_seen_keys); off only for write-cost experiments
    compact_seen: bool = True
    # waves with ≤ this many newly-seen keys append as ONE bucket-sorted
    # flat file (L0) instead of a bucket-partitioned directory — the
    # bucketed write of a small wave costs ~10× the flat one, and
    # compaction normalizes both into bucketed segments (see
    # checkpoint.write_seen_keys). 0 forces bucketed appends always.
    seen_flat_max_keys: int = 50_000
    # the user-agent whose robots.txt groups bind this crawl, used when
    # run_crawl receives RAW (host, robots_txt) text and parses it
    # in-engine (crawl/robots.py); "*" = the wildcard groups only
    robots_agent: str = "*"
    # diagnostics: record per-wave bloom-maybe slice size and its
    # false-positive share (maybe rows that the exact store proves NEW) in
    # metrics — two extra counts per wave, off in production
    track_bloom_stats: bool = False
    # diagnostics: split the admit/discover_state phase walls into sub-phases
    # by FORCING materialization at each boundary (extra count()/checkpoint
    # jobs — changes the execution, so walls are for attribution only, never
    # the headline). Used by tools/bench_scaling.py profiling runs.
    profile_phases: bool = False
    # cache_pages=True (default): hash-partition the (url, html) fetch
    # index once and persist it, so every wave's fetch join satisfies its
    # distribution from the cache — right whenever the crawl runs more
    # than one wave. Set False ONLY for a single-pass bulk drain (seeds ≈
    # the whole table, budget None): the one wave touches every page
    # exactly once, so caching the payload is pure overhead — and in
    # local mode actively hostile at high core counts (all threads share
    # ONE block-manager memory store; measured: building the html cache
    # costs 4.5 s at 8 cores but 64 s at 32 on the same input, and
    # joining out of it 165 s vs 66 s for the direct join). On a real
    # cluster the store is per-executor, but a single-pass drain still
    # has no reuse to pay for a cache. dedup_pages=True forces the cache
    # (the dedup aggregate must not re-run per wave).
    cache_pages: bool = True


@dataclass
class CrawlResult:
    waves: int
    checkpoint_dir: str
    fetch_log: DataFrame
    entities: DataFrame
    seen: DataFrame
    metrics: list[dict] = field(default_factory=list)


_METRICS_SCHEMA = (
    "wave int, n_frontier long, n_new long, n_admitted long, n_deferred long, "
    "n_entities long, wall_s double"
)


def _dedup_in_wave(frontier: DataFrame) -> DataFrame:
    """Keep-first per canon_url within a wave (W2 keep-first semantics,
    `独立版/(using)WeiboUserScrapy.py:447-456`): best ordering keys win.
    ``url`` is the final tiebreak — two distinct urls can share a canon form
    (/comment/W vs /comment/W?page=1) with identical ordering keys, and the
    fetched representative must not depend on partition layout."""
    w = Window.partitionBy("canon_url").orderBy(
        *[F.col(c).asc() for c in ORDER_COLS], F.col("url").asc()
    )
    return (
        frontier.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seed_urls: list[str] | DataFrame,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    resume: bool = False,
    continue_seen: bool = False,
    on_wave=None,
) -> CrawlResult:
    """``on_wave``: optional callable invoked with each wave's metrics dict
    as it completes — the progress-reporting hook for the job-status surface
    (jobs.JobTracker), the analog of the reference task API's polled
    ``progress`` field (`WeiboDeepAnalyzer/api_server.py:262-274`).

    ``continue_seen``: start a new crawl GENERATION over the standing state
    in ``checkpoint_dir`` — the caller's ``seed_urls`` become the next wave's
    frontier, unioned with whatever the previous generation left pending,
    while the seen store and bloom carry over (urls visited by ANY earlier
    generation are never re-admitted; replaying a fully-committed generation
    admits nothing — idempotent per key). Wave numbering continues
    monotonically, committed per-wave logs/seen appends are immutable, and
    ``max_waves`` bounds THIS generation. This is the unit of work of the
    streaming frontier drain (``streaming.stream_crawl``); contrast
    ``resume``, which finishes an interrupted crawl from its snapshot
    frontier and ignores ``seed_urls``."""
    cfg = config or CrawlConfig()
    root = cfg.checkpoint_dir or tempfile.mkdtemp(prefix="wss_crawl_")

    # seen-prefilter strategy (CrawlConfig.seen_filter). Both variants share
    # the (state, new_urls) → state / (cand, state) → +maybe_seen contract;
    # everything downstream of these three closures is filter-agnostic.
    if cfg.seen_filter == "cuckoo":
        def _filter_empty():
            return cuckoo.empty_state(spark, cfg.n_buckets)

        def _filter_update(st, new):
            return cuckoo.update(
                st, new, cfg.cuckoo_slots, cfg.cuckoo_slot_width,
                cfg.cuckoo_max_kicks,
            )

        def _filter_prefilter(cand, st):
            return cuckoo.prefilter(cand, st, cfg.cuckoo_slots,
                                    cfg.cuckoo_slot_width)
    elif cfg.seen_filter == "bloom":
        def _filter_empty():
            return bloom.empty_state(spark, cfg.n_buckets)

        def _filter_update(st, new):
            return bloom.update(st, new, cfg.m_bits, cfg.bloom_k)

        def _filter_prefilter(cand, st):
            return bloom.prefilter(cand, st, cfg.m_bits, cfg.bloom_k)
    else:
        raise ValueError(f"unknown seen_filter {cfg.seen_filter!r} "
                         "(expected 'bloom' or 'cuckoo')")

    if resume and continue_seen:
        raise ValueError(
            "resume (finish an interrupted crawl from its snapshot frontier) "
            "and continue_seen (new generation: fresh seeds over the "
            "standing seen state) are mutually exclusive"
        )

    # robots may arrive as RAW text (host, robots_txt) — the shape a fetch
    # of /robots.txt produces — or as the parsed ROBOTS rules table. Parse
    # in-engine when raw (crawl/robots.py); rules are control-plane-small,
    # so materialize once instead of re-running the parse per wave.
    if robots is not None and "robots_txt" in robots.columns:
        from wss_spark.crawl.robots import parse_robots

        robots = parse_robots(
            robots, agent=cfg.robots_agent
        ).localCheckpoint(eager=True)

    # fetch target: exact url → html (the reference fetches literal urls;
    # canonicalization exists only for the seen set, where /comment/W and
    # /comment/W?page=1 are the same resource).
    #
    # Two fetch strategies (see CrawlConfig.cache_pages): the persisted
    # url-partitioned index for multi-wave crawls (html shuffled exactly
    # once, every wave's join satisfies its distribution from the cache —
    # the single-box stand-in for a url-bucketed Iceberg pages table), or
    # streaming the table straight into the join for a single-pass bulk
    # drain where the cache would never be reused.
    use_idx = cfg.dedup_pages or cfg.cache_pages
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if use_idx:
        pages_idx = pages.select("url", "html").repartition(n_part, "url")
        if cfg.dedup_pages:
            pages_idx = pages_idx.dropDuplicates(["url"])
        pages_idx = pages_idx.persist()
    else:
        pages_idx = pages.select("url", "html")

    # per-host wave budgets from robots crawl_delay (None when no host
    # declares one): a tiny control-plane dim, computed once and reused by
    # every wave's politeness split. localCheckpoint materializes it so the
    # per-wave broadcast rebuilds don't re-aggregate the robots table.
    hb = None
    if robots is not None and "crawl_delay" in robots.columns:
        if cfg.budget is None:
            # budget=None is the bulk/backfill drain (unbounded admission,
            # no politeness phase at all) — a robots table that DECLARES
            # pacing under that mode is a contradictory configuration.
            # Failing fast beats silently ignoring a declared crawl_delay.
            if not robots.filter(F.col("crawl_delay") > 0).isEmpty():
                raise ValueError(
                    "budget=None (bulk drain) skips politeness entirely, but "
                    "robots declares a positive crawl_delay — set a wave "
                    "budget to honor it, or drop the crawl_delay column for "
                    "a warehouse backfill"
                )
        else:
            hb = host_budgets(robots, cfg.budget, cfg.wave_seconds)
            hb = hb.localCheckpoint(eager=True)
            if hb.isEmpty():
                hb = None
    # any host gated to every Nth wave (declared delay > wave_seconds)?
    # such hosts make legitimate all-deferred waves — the loop must tick
    # through them instead of treating empty admission as a stop condition
    hb_has_periods = (
        hb is not None and not hb.filter(F.col("host_period") > 1).isEmpty()
    )

    snap = checkpoint.latest_snapshot(root) if (resume or continue_seen) else None
    if not resume and not continue_seen and checkpoint.has_state(root):
        # fresh crawl into a reused checkpoint_dir: wipe the engine-owned
        # state subdirs. Per-wave dirs would be overwritten anyway, but
        # committed seen SEGMENTS from the old crawl serve reads for their
        # whole wave range and would shadow the new crawl's rewritten
        # waves — silently wrong seen semantics (old URLs never fetched,
        # new early-wave URLs re-admitted).
        checkpoint.reset_state(root)
    def _seed_frontier() -> DataFrame:
        if isinstance(seed_urls, DataFrame):
            return seeds_frontier_from_df(seed_urls)
        return seeds_to_frontier(spark, seed_urls)

    n_seeds = None if isinstance(seed_urls, DataFrame) else len(seed_urls)
    if snap is not None:
        frontier, bloom_state = checkpoint.read_state(spark, root, snap.wave)
        # None for a manifest written before the field existed
        n_frontier = snap.manifest.get("frontier_rows")
        # the state schemas differ (bitmap vs table+stash): a resume under
        # the wrong seen_filter must fail loudly, not probe garbage bytes
        want = "table" if cfg.seen_filter == "cuckoo" else "bitmap"
        if want not in bloom_state.columns:
            raise ValueError(
                f"snapshot at wave {snap.wave} holds "
                f"{'bloom' if 'bitmap' in bloom_state.columns else 'cuckoo'} "
                f"state but seen_filter={cfg.seen_filter!r}; resume with the "
                "filter the snapshot was written with"
            )
        if continue_seen:
            # new generation: the previous generation's leftover frontier
            # (pending deferred/undiscovered rows in its terminal snapshot —
            # empty when it terminated naturally) plus the new seeds. Rows
            # any earlier generation visited are filtered by the carried
            # bloom + seen store exactly like intra-crawl re-discoveries.
            frontier = frontier.unionByName(_seed_frontier())
            n_frontier = (None if None in (n_frontier, n_seeds)
                          else n_frontier + n_seeds)
        wave = snap.wave + 1
        # exact seen = union of committed per-wave key appends ≤ the snapshot
        # wave; stale appends from a crashed wave > snap.wave are ignored
        # (and deterministically overwritten when that wave re-runs).
        last_seen_wave = snap.wave
        metrics: list[dict] = []
    else:
        frontier = _seed_frontier()
        n_frontier = n_seeds
        bloom_state = _filter_empty()
        wave = 0
        last_seen_wave = -1
        metrics = []
    # provably-empty bloom (cold start, nothing appended yet): the prefilter
    # is the constant False — skip the cogroup round-trip. A resumed state
    # may carry bits, so resume never takes the shortcut.
    bloom_is_empty = snap is None

    fetch_log_parts: list[DataFrame] = []
    # the end-of-run log read-backs reuse the schemas of the frames this
    # run wrote (inference would cost a job per log)
    log_schemas: dict = {}
    last_committed = wave - 1
    snapshot_wave = None  # wave of the last snapshot this run committed
    # max_waves bounds THIS run's waves: absolute for fresh/resume (a resumed
    # crawl finishes under the same cap as the uninterrupted one), relative
    # for a continue_seen generation (each generation gets its own allowance
    # — wave numbers grow without bound across generations by design)
    max_wave = wave + cfg.max_waves if continue_seen else cfg.max_waves
    # the frontier's size is never counted by a job of its own: a wave's
    # next frontier is observed on the commit that materializes it (step
    # 9). The first wave of a run takes it from the seed list's length
    # and the snapshot manifest, or — DataFrame seeds — observes it on its
    # own admit pass (frontier_obs below).
    while wave < max_wave:
        t0 = time.time()
        if n_frontier == 0:
            break
        # NO frontier.persist() here: every wave's frontier is already
        # materialized upstream (wave 0: a projection of the caller's pages/
        # seeds frame; wave > 0: the eager localCheckpoint or the snapshot
        # parquet from step 9), and its one consumer is the dedup chain
        # feeding the admit cache. An extra persist re-serialized the whole
        # frontier into the block manager once per wave — measured 12.1 s
        # (2 cores) / 4.5 s (8 cores) of the wave-0 bulk wall, scaling at
        # 0.67 (BASELINE.md round-4 attribution) — the local-mode
        # cache-build pitfall the extraction path already avoids.
        frontier_obs = None
        if n_frontier is None:
            frontier, frontier_obs = checkpoint.observe_count(frontier)

        phase_t: dict[str, float] = {}

        def _mark(name: str, since: list) -> None:
            now_t = time.time()
            phase_t[name] = round(now_t - since[0], 3)
            since[0] = now_t

        _since = [t0]

        # 1. in-wave dedup + salted hash/bucket columns
        cand = bloom.with_hash_cols(
            _dedup_in_wave(frontier), "canon_url", cfg.n_buckets, cfg.salt
        )

        # 2. seen filter: bloom prefilter → exact anti-join on the maybe
        # slice ONLY, against the append-only bucket-partitioned key store.
        # Two prunes keep the exact join O(maybe-slice): the bloom removes
        # the definitely-new majority, and the key-store scan reads only the
        # buckets the maybe slice actually touches (directory-level prune).
        # ``flagged`` is persisted because three consumers branch off it
        # (bucket probe, definitely_new, maybe) — the cogroup bloom probe
        # must run once per wave.
        bloom_stats: dict[str, int] = {}
        if bloom_is_empty:
            # cold start, NOTHING ever admitted: every candidate is provably
            # new and the key store is provably empty, so skip the probe AND
            # the maybe/union consumer graph — the deduped candidate plan
            # flows straight into the admit cache (ONE materialization of
            # this wave's frontier instead of two; the flagged cache build
            # was 1/3 of the bulk wave-0 admit wall)
            flagged = None
            new = cand
            if robots is not None or cfg.budget is not None:
                # with a robots gate (gate + blocked anti-join) or a wave
                # budget (admitted build + the deferred anti-join's left
                # side) the deduped candidates have MULTIPLE consumers
                # before the admit cache exists — persist them, or the
                # dedup window shuffle re-runs per consumer. Only the
                # unbudgeted robots-less bulk drain skips the persist:
                # there the single consumer is the admit build itself, and
                # persisting would re-create exactly the double
                # materialization the shortcut removes.
                flagged = cand.persist()
                new = flagged
            if cfg.track_bloom_stats:
                bloom_stats["n_maybe"] = 0
                bloom_stats["n_bloom_fp"] = 0
            if cfg.profile_phases:
                _mark("p_dedup_bloom", _since)  # lazy: cost lands in admit
                _mark("p_seen_anti", _since)
        else:
            flagged = _filter_prefilter(cand, bloom_state).persist()
            if cfg.profile_phases:
                flagged.count()  # force: dedup + hash cols + probe + cache
                _mark("p_dedup_bloom", _since)
            definitely_new = flagged.filter(~F.col("maybe_seen"))
            maybe = flagged.filter(F.col("maybe_seen"))
            confirmed_new = maybe
            if cfg.track_bloom_stats:
                bloom_stats["n_maybe"] = maybe.count()
            if last_seen_wave >= 0:
                # one small job yields both the bucket list (directory-level
                # prune) and the per-bucket probe hash range (zone-map prune
                # over committed segments — checkpoint.read_seen_keys)
                probe = maybe.groupBy("bucket").agg(
                    F.min("url_hash").alias("_lo"), F.max("url_hash").alias("_hi")
                ).collect()
                maybe_buckets = [r["bucket"] for r in probe]
                probe_ranges = {r["bucket"]: (r["_lo"], r["_hi"]) for r in probe}
                if maybe_buckets:
                    seen_slice = checkpoint.read_seen_keys(
                        spark, root, last_seen_wave, maybe_buckets,
                        probe_ranges=probe_ranges,
                    )
                    if seen_slice is not None:
                        confirmed_new = maybe.join(
                            seen_slice,
                            on=["bucket", "url_hash", "canon_url"],
                            how="left_anti",
                        )
            if cfg.track_bloom_stats:
                # maybe rows the exact store proves new = bloom false
                # positives (the admit cost the bloom failed to prune)
                bloom_stats["n_bloom_fp"] = confirmed_new.count()
            new = definitely_new.unionByName(confirmed_new).drop("maybe_seen")
            if cfg.profile_phases:
                new.count()  # force: bucket collect + seen read + anti-join
                _mark("p_seen_anti", _since)

        # 3. robots gate (blocked rows are marked seen, logged, never fetched)
        if robots is not None:
            allowed = robots_gate(new, robots)
            # persisted: three consumers (fetch-log 403 rows, seen-key
            # append, count) must not re-run the anti-join
            blocked = new.join(
                allowed.select("canon_url"), "canon_url", "left_anti"
            ).persist()
        else:
            allowed, blocked = new, None

        # 4. politeness: ≤ budget per host this wave, rest deferred
        if cfg.budget is None:
            admitted = allowed.withColumn("host_rank", F.lit(-1))
            deferred = None
        else:
            admitted, deferred = split_by_budget(
                allowed, cfg.budget, cfg.n_salts,
                host_budget=hb, broadcast_admitted=cfg.broadcast_admitted,
                wave=wave,
            )
        admitted = admitted.persist()
        n_admitted = admitted.count()
        if frontier_obs is not None:
            # the admit pass ran the observed frontier (into the persisted
            # candidates or the admit cache itself); an empty first wave
            # stops here, before anything is written
            n_frontier = checkpoint.observed_count(frontier_obs)
            if n_frontier is None:
                # the admit pass's final plan lost the observed frontier (a
                # later stage came out empty): count it after all
                n_frontier = frontier.count()
            if n_frontier == 0:
                for df in (flagged, admitted, blocked):
                    if df is not None:
                        df.unpersist()
                break
        _mark("admit", _since)

        # 5. "fetch": join against the url-partitioned pages cache. The html
        # payload join runs ONCE per wave — extraction consumes it directly,
        # and the fetch log below derives fetch status from the (narrow,
        # persisted) parsed frame instead of re-executing the heavy join.
        fetched = admitted.join(pages_idx, on="url", how="left")

        # 6. extract (one Arrow pass over this wave's pages). Frontier
        # lineage (seed_order/priority/page) rides THROUGH the Arrow pass as
        # passthrough columns so discover() never joins parsed back to the
        # frontier — the r01 design re-executed that shuffle join once per
        # union branch of the discovery plan.
        ok = fetched.filter(F.col("html").isNotNull()).select(
            "url", "html", "seed_order", "priority", F.col("page").alias("_src_page")
        )
        parsed_plan, entities_obs = checkpoint.observe_count(parse_pages(
            ok, cfg.now, passthrough=["seed_order", "priority", "_src_page"]
        ))
        # Materialize the extraction ONCE as this wave's entities log and
        # read it back. discover() fans out into ~10 union branches over
        # `parsed`, so the Arrow extraction (the wave's dominant cost) must
        # run exactly once — but .persist() is the wrong materialization
        # here: building in-memory cache batches for the wide entities
        # frame serializes on the block manager (measured 8→32-core
        # efficiency 0.42 cached vs 0.90 uncached, and parquet+readback
        # 2x faster than the cache build at 32 cores), while the parquet
        # write is partition-parallel and downstream re-reads are
        # column-pruned. The per-wave write is also exactly the Iceberg
        # entities append the durable path needs anyway.
        checkpoint.write_log(root, "entities", wave, parsed_plan)
        log_schemas["entities"] = parsed_plan.schema
        parsed = checkpoint.read_log_wave(
            spark, root, "entities", wave, schema=parsed_plan.schema
        )
        n_parsed = entities_obs.get["n"]
        _mark("extract", _since)

        # fetch log: every parsed url has exactly one kind='page' row, so a
        # narrow cached-to-cached join yields status without touching html
        fetched_urls = parsed.filter(F.col("kind") == "page").select(
            "url", F.lit(200).alias("_status")
        )
        fetch_log = (
            admitted.join(fetched_urls, on="url", how="left")
            .select(
                "url",
                "canon_url",
                "host",
                "seed_order",
                "stage",
                "page",
                "priority",
                F.lit(wave).alias("wave"),
                F.col("host_rank").alias("rank_in_wave"),
                F.coalesce(F.col("_status"), F.lit(404)).alias("status"),
                F.lit(cfg.now).alias("fetched_at"),
                F.spark_partition_id().alias("partition_id"),
            )
        )
        if blocked is not None:
            fetch_log = fetch_log.unionByName(
                blocked.select(
                    "url", "canon_url", "host", "seed_order", "stage", "page",
                    "priority", F.lit(wave).alias("wave"),
                    F.lit(-1).alias("rank_in_wave"), F.lit(403).alias("status"),
                    F.lit(cfg.now).alias("fetched_at"),
                    F.spark_partition_id().alias("partition_id"),
                )
            )
        if cfg.defer_logs:
            fetch_log_parts.append(fetch_log.persist())
        else:
            checkpoint.write_log(root, "fetch_log", wave, fetch_log)
            log_schemas["fetch_log"] = fetch_log.schema
        if cfg.profile_phases:
            if cfg.defer_logs:
                fetch_log_parts[-1].count()  # force: status join + cache
            _mark("p_fetch_log", _since)

        # 7. state update: APPEND this wave's newly-seen keys (admitted ∪
        # blocked) to the bucket-partitioned store — O(wave), never
        # O(total-crawled) — then OR the same keys into the bloom.
        n_blocked = 0
        newly_seen = admitted.select("bucket", "url_hash", "canon_url")
        if blocked is not None:
            n_blocked = blocked.count()
            newly_seen = newly_seen.unionByName(
                blocked.select("bucket", "url_hash", "canon_url")
            )
        checkpoint.write_seen_keys(
            root, wave, newly_seen,
            n_keys=n_admitted + n_blocked,
            flat_max_keys=cfg.seen_flat_max_keys,
        )
        last_seen_wave = wave
        if cfg.profile_phases:
            _mark("p_seen_write", _since)
        bloom_next = _filter_update(bloom_state, newly_seen)
        if n_admitted + n_blocked > 0:
            bloom_is_empty = False

        # 8. discover next wave; deferred rows re-enter unchanged. Both
        # sizes are observed on the step-9 commit — the deferred branch is
        # not persisted: its one consumer is that commit.
        next_frontier = discover(parsed)
        deferred_obs = None
        if deferred is not None:
            deferred, deferred_obs = checkpoint.observe_count(deferred)
            next_frontier = deferred.select(
                *[f.name for f in frontier.schema.fields]
            ).unionByName(next_frontier)
        if cfg.profile_phases:
            next_frontier.count()  # force: discovery unions over parsed
            _mark("p_discover", _since)
            # residual "discover_state" mark = snapshot/localCheckpoint commit
            # (bloom update + frontier materialization) + seen compaction

        # 9. snapshot every ``checkpoint_every`` waves (write + read back,
        # truncating DataFrame lineage so plans never grow across waves);
        # in-between waves just persist — lineage depth stays bounded by the
        # snapshot cadence. The last wave ``max_waves`` allows snapshots
        # off the cadence too: its state is written once here instead of
        # being checkpointed and then written again by the terminal
        # snapshot. The exact seen set is NOT rewritten here — it is
        # already durable via the per-wave key append (step 7).
        on_cadence = wave % cfg.checkpoint_every == 0
        if on_cadence or wave == max_wave - 1:
            n_next = checkpoint.write_snapshot(
                root, wave, next_frontier, bloom_next,
                {"n_frontier": n_frontier, "n_admitted": n_admitted},
            ).manifest["frontier_rows"]
            next_frontier, bloom_next = checkpoint.read_state(
                spark, root, wave, next_frontier.schema, bloom_next.schema
            )
            snapshot_wave = wave
            # seen-store maintenance on the snapshot cadence: merge the
            # uncompacted wave dirs ≤ this committed snapshot into one
            # segment (one file per bucket) so the per-wave exact anti-join
            # opens O(segments + cadence) files, not O(waves) — the measured
            # admit-phase growth was file count, not data (see
            # checkpoint.compact_seen_keys). Safe w.r.t. resume: a segment
            # commits only after its covering snapshot, wave dirs are never
            # deleted, and compaction cost is O(window), never O(total).
            if on_cadence and cfg.compact_seen:
                c_lo = checkpoint.last_compacted_wave(root) + 1
                if wave > c_lo:
                    checkpoint.compact_seen_keys(spark, root, c_lo, wave)
        else:
            # localCheckpoint TRUNCATES the logical plan (persist alone does
            # not): without it the wave-over-wave plan nests multiplicatively
            # (discover() unions six branches over the previous wave's plan)
            # and Catalyst analysis time explodes after a few waves. Both
            # states here are O(wave) (frontier) / O(n_buckets) (bloom) —
            # nothing cumulative is rewritten.
            next_frontier, next_obs = checkpoint.observe_count(next_frontier)
            next_frontier = next_frontier.localCheckpoint(eager=True)
            bloom_next = bloom_next.localCheckpoint(eager=True)
            n_next = next_obs.get["n"]
        n_deferred = deferred_obs.get["n"] if deferred_obs is not None else 0
        last_committed = wave
        _mark("discover_state", _since)

        metrics.append(
            {
                "wave": wave,
                "n_frontier": int(n_frontier),
                # newly-seen this wave = exactly what the seen store appended
                # (admitted ∪ robots-blocked); deferred rows re-enter the
                # next wave unseen and must not be counted
                "n_new": int(n_admitted + n_blocked),
                "n_admitted": int(n_admitted),
                "n_deferred": int(n_deferred),
                "n_entities": int(n_parsed),
                "wall_s": time.time() - t0,
                "phases": phase_t,
                **bloom_stats,
            }
        )
        if on_wave is not None:
            on_wave(metrics[-1])

        if flagged is not None:
            flagged.unpersist()
        if not cfg.defer_logs:
            # deferred fetch logs (defer_logs=True) are lazy unions over the
            # admitted AND blocked caches — both must stay alive until the
            # final fetch_log materializes; otherwise drop them now
            # (parsed is parquet-backed, nothing to drop)
            admitted.unpersist()
            if blocked is not None:
                blocked.unpersist()
        # the new states are eagerly materialized (snapshot or
        # localCheckpoint), so the previous wave's cached state can go
        old_bloom = bloom_state
        frontier, bloom_state = next_frontier, bloom_next
        old_bloom.unpersist()
        # everything left is blocked/unseen-able; avoid spinning. With
        # period-gated hosts an empty wave is a legitimate wait (bounded by
        # max_waves), so the loop ticks on instead of stopping
        if n_admitted == 0 and n_frontier > 0 and not hb_has_periods:
            break
        n_frontier = n_next
        wave += 1

    # terminal snapshot so a completed crawl resumes from its true final
    # state even off the snapshot cadence (a max_waves-cut crawl already
    # wrote it in its last wave)
    if metrics and snapshot_wave != metrics[-1]["wave"]:
        checkpoint.write_snapshot(
            root, metrics[-1]["wave"], frontier, bloom_state,
            {"n_frontier": -1, "n_admitted": metrics[-1]["n_admitted"]},
        )
    if metrics:
        # through Arrow: a list of tuples would go through a pickled
        # Python RDD and a Python-worker round trip
        cols = [c.split()[0] for c in _METRICS_SCHEMA.split(", ")]
        checkpoint.write_log(
            root, "metrics", metrics[-1]["wave"],
            spark.createDataFrame(pd.DataFrame(metrics, columns=cols),
                                  _METRICS_SCHEMA),
        )

    # the fetch index is dead on either branch: deferred fetch-log parts are
    # unions over the persisted admitted/blocked frames joined to the
    # parquet-backed parsed log — none of them re-reads the (url, html)
    # cache, so a multi-GB corpus cache must not outlive the crawl
    if use_idx:
        pages_idx.unpersist()
    if cfg.defer_logs:
        fetch_log_all = fetch_log_parts[0] if fetch_log_parts else None
        for part in fetch_log_parts[1:]:
            fetch_log_all = fetch_log_all.unionByName(part)
    else:
        fetch_log_all = checkpoint.read_log(
            spark, root, "fetch_log", up_to_wave=last_committed,
            schema=log_schemas.get("fetch_log"),
        )
    # entities are parquet-backed per wave either way (the extraction's
    # materialization point doubles as the log)
    entities_all = checkpoint.read_log(
        spark, root, "entities", up_to_wave=last_committed,
        schema=log_schemas.get("entities"),
    )
    seen_all = (
        checkpoint.read_seen_keys(spark, root, last_seen_wave)
        if last_seen_wave >= 0
        else None
    )
    if seen_all is None:
        seen_all = spark.createDataFrame([], SEEN_URLS)
    return CrawlResult(
        waves=wave,
        checkpoint_dir=root,
        fetch_log=fetch_log_all,
        entities=entities_all,
        seen=seen_all,
        metrics=metrics,
    )


def visit_order(fetch_log: DataFrame) -> list[str]:
    """The crawl's deterministic visit order (fetched urls only), for
    equivalence checks: sorted by the pure-data ordering keys."""
    rows = (
        fetch_log.filter(F.col("status") != 403)
        .orderBy("wave", "priority", "seed_order", "stage", "page", "canon_url")
        .select("canon_url")
        .collect()
    )
    return [r[0] for r in rows]
