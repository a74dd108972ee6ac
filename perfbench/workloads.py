"""The benchmark's workloads. Each one builds its inputs and their oracle
from the seed (``setup``) and warms the fresh JVM with the crawl its
iteration starts with (``warm_up``, part of set-up, unchecked).
``iterate`` runs one closed-loop iteration (one client; the next
iteration starts when the previous one returns) and checks its output
against the oracle."""

from __future__ import annotations

import dataclasses
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench.probe import JobGroups
from perfbench.stats import GroupTotals


@dataclass
class CrawlRun:
    result: object
    rows: int
    wall_s: float
    wave_s: list[float]
    groups: list[GroupTotals] = field(default_factory=list)


def timed_crawl(spark, pages, seeds, cfg, continue_seen=False,
                groups: JobGroups | None = None) -> CrawlRun:
    """``run_crawl`` plus fetch-log materialization, timed. With ``groups``
    each wave runs in its own job group, closed and read inside
    ``on_wave``; everything after the last wave (terminal snapshot,
    metrics log, the fetch-log count) lands in a ``tail`` group."""
    from wss_spark.crawl.frontier import run_crawl

    stamps: list[float] = []
    closed: list[GroupTotals] = []

    def on_wave(m: dict) -> None:
        stamps.append(time.perf_counter())
        if groups is not None:
            g = groups.close()
            g.extra = m
            closed.append(g)
            groups.open(f"w{len(stamps)}")

    if groups is not None:
        groups.open("w0")
    t0 = time.perf_counter()
    res = run_crawl(spark, pages, seeds, cfg, continue_seen=continue_seen,
                    on_wave=on_wave)
    rows = res.fetch_log.count()
    wall = time.perf_counter() - t0
    if groups is not None:
        closed.append(groups.close("tail"))
    edges = [t0] + stamps
    return CrawlRun(res, rows, wall,
                    [b - a for a, b in zip(edges, edges[1:])], closed)


def visited(fetch_log, min_wave: int = 0) -> list[tuple[int, str, str]]:
    """(wave, canon_url, url) of every fetched row at or after ``min_wave``."""
    return [
        (r["wave"], r["canon_url"], r["url"])
        for r in fetch_log.filter((F.col("status") != 403)
                                  & (F.col("wave") >= min_wave))
        .select("wave", "canon_url", "url").collect()
    ]


def seen_set(res) -> set[str]:
    return {r[0] for r in res.seen.select("canon_url").collect()}


COMMENT_COLS = ("root_id", "page", "block_index", "entity_id", "user_id",
                "user_name", "content", "like_count", "publish_time")


def drain_comments(entities):
    """Non-hot comment rows of comment pages 2 and up. Page 1 is left out:
    ``/comment/W`` and ``/comment/W?page=1`` share a canonical url, so a
    crawl fetches only one of the two renderings."""
    return (entities.filter((F.col("kind") == "comment") & ~F.col("is_hot")
                            & (F.col("page") >= 2))
            .select(*COMMENT_COLS))


def expected_comments(spark, n_targets: int, seed: int):
    """The rows ``drain_comments`` must hold, from the page generator's
    own record of what it rendered (no HTML is parsed)."""
    import pandas as pd

    from wss_spark.synth import expected_comment_rows

    keys = ["root_wid", "page", "block_index", "comment_id", "commenter_id",
            "commenter_name", "content", "like_count", "publish_time"]
    rows = [r for r in expected_comment_rows(n_targets, seed) if r["page"] >= 2]
    # through Arrow: a row-by-row createDataFrame costs seconds at this size
    pdf = pd.DataFrame(rows, columns=keys).set_axis(list(COMMENT_COLS), axis=1)
    return spark.createDataFrame(
        pdf, "root_id string, page int, block_index int, entity_id string, "
             "user_id string, user_name string, content string, "
             "like_count int, publish_time string")


def comments_digest(df) -> str:
    """Order-free digest of comment rows: the row count and the sum of
    per-row hashes over ``COMMENT_COLS``."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*COMMENT_COLS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def page_text_mismatches(entities, fetch_log, pages) -> int:
    """Fetched pages whose extracted text differs from ``pages.text``, the
    text the page generator rendered into the HTML."""
    got = entities.filter(F.col("kind") == "page").select(
        "url", F.col("text").alias("got"))
    want = (fetch_log.filter(F.col("status") == 200).select("url")
            .join(pages.select("url", F.col("text").alias("want")), "url"))
    return (got.join(want, "url", "full_outer")
            .filter(~F.col("got").eqNullSafe(F.col("want"))).count())


@dataclass
class Iteration:
    wall_s: float
    urls: int  # fetch-log rows of the crawl urls_per_s is read from
    crawl_s: float  # wall of that crawl
    wave_s: list[float]
    crawls: list[CrawlRun]
    problems: list[str]
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, nproc: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.oracle_s = 0.0
        self._dirs = 0

    def ckpt_dir(self) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"ckpt{self._dirs:03d}")

    def config(self, **kw):
        from wss_spark.crawl.frontier import CrawlConfig

        return CrawlConfig(n_buckets=8, m_bits=1 << 16,
                           checkpoint_dir=self.ckpt_dir(), **kw)

    def pages_html(self, pages) -> dict[str, bytes]:
        pdf = pages.select("url", "html").toPandas()  # through Arrow
        return dict(zip(pdf["url"], map(bytes, pdf["html"])))


class DiscoveryPolite(Workload):
    """Entry URLs only, a per-host budget that binds on every host (the
    hot one holds 85% of targets), per-wave log appends and a short
    snapshot cadence: small waves, so orchestration, not extraction, sets
    the wall."""

    name = "discovery_polite"
    N_TARGETS = 128
    BUDGET = 2
    MAX_WAVES = 2
    CADENCE = 2

    def setup(self) -> None:
        from wss_spark.crawl.simulator import simulate
        from wss_spark.synth import build_pages_df, seed_list

        self.pages = build_pages_df(self.spark, self.N_TARGETS, self.seed).persist()
        self.pages.count()
        self.seeds = seed_list(self.N_TARGETS, self.seed)
        t0 = time.perf_counter()
        self.want_order, self.want_seen = simulate(
            self.pages_html(self.pages), self.seeds, self.BUDGET,
            max_waves=self.MAX_WAVES)
        self.oracle_s = time.perf_counter() - t0

    def _crawl(self, max_waves: int, groups: JobGroups | None = None) -> CrawlRun:
        cfg = self.config(budget=self.BUDGET, max_waves=max_waves,
                          checkpoint_every=self.CADENCE, defer_logs=False)
        return timed_crawl(self.spark, self.pages, self.seeds, cfg, groups=groups)

    def warm_up(self) -> None:
        self._crawl(self.MAX_WAVES)

    def iterate(self, groups: JobGroups | None = None) -> Iteration:
        from wss_spark.crawl.frontier import visit_order

        run = self._crawl(self.MAX_WAVES, groups)
        problems = []
        if visit_order(run.result.fetch_log) != self.want_order:
            problems.append("visit order differs from crawl.simulator")
        if seen_set(run.result) != self.want_seen:
            problems.append("seen set differs from crawl.simulator")
        return Iteration(run.wall_s, run.rows, run.wall_s, run.wave_s, [run],
                         problems)


class BulkRefresh(Workload):
    """A bulk drain of a url-bucketed corpus (every url a seed, no budget,
    no page cache), then a refresh of the standing crawl: evict a seeded
    10% sample of what was fetched and run a ``continue_seen`` generation
    seeded with every visited url, so nearly every candidate takes the
    maybe-seen path against the rewritten seen store."""

    name = "bulk_refresh"
    N_TARGETS = 1000
    EVICT_SHARE = 0.10

    def _cfg(self):
        return self.config(budget=None, checkpoint_every=4,
                           dedup_pages=False, cache_pages=False)

    def setup(self) -> None:
        from wss_spark import bucketing
        from wss_spark.crawl.simulator import simulate
        from wss_spark.synth import build_pages_df

        self.pages = bucketing.write_bucketed(
            build_pages_df(self.spark, self.N_TARGETS, self.seed),
            f"perfbench_pages_{self.seed}", os.path.join(self.work, "pages"),
            n_buckets=self.nproc)
        self.seeds = self.pages.select("url")
        t0 = time.perf_counter()
        html = self.pages_html(self.pages)
        log: list[dict] = []
        _order, self.want_seen = simulate(
            html, sorted(html), budget=len(html) + 1, log=log)
        self.want_visits = {(r["wave"], r["canon_url"]) for r in log}
        self.want_comments = comments_digest(
            expected_comments(self.spark, self.N_TARGETS, self.seed))
        self.oracle_s = time.perf_counter() - t0
        self.n_iter = 0

    def _check_drain(self, res) -> list[str]:
        problems = []
        got = {(w, c) for w, c, _u in visited(res.fetch_log)}
        if got != self.want_visits:
            problems.append("drain (wave, url) set differs from crawl.simulator")
        if seen_set(res) != self.want_seen:
            problems.append("drain seen set differs from crawl.simulator")
        bad = page_text_mismatches(res.entities, res.fetch_log, self.pages)
        if bad:
            problems.append(f"{bad} fetched pages' extracted text differs from pages.text")
        if comments_digest(drain_comments(res.entities)) != self.want_comments:
            problems.append("drain comment rows differ from synth.expected_comment_rows")
        return problems

    def warm_up(self) -> None:
        # the drain only: a whole cycle as warm-up cost ~10 s a run and
        # did not make the figures steadier (LAYERS.md)
        timed_crawl(self.spark, self.pages, self.seeds, self._cfg())

    def iterate(self, groups: JobGroups | None = None) -> Iteration:
        from wss_spark.crawl import recrawl
        from wss_spark.crawl.simulator import canonicalize

        self.n_iter += 1
        cfg = self._cfg()
        drain = timed_crawl(self.spark, self.pages, self.seeds, cfg,
                            groups=groups)
        # the drain's seen set is read before the eviction rewrites it
        problems = self._check_drain(drain.result)
        fetched = visited(drain.result.fetch_log)
        last_wave = max(w for w, _c, _u in fetched)
        urls = sorted(u for _w, _c, u in fetched)
        rnd = random.Random(self.seed * 1_000_003 + self.n_iter)
        evict = rnd.sample(urls, max(1, int(len(urls) * self.EVICT_SHARE)))

        if groups is not None:
            groups.open("evict")
        t0 = time.perf_counter()
        n_evicted = recrawl.evict_urls(self.spark, cfg.checkpoint_dir, evict, cfg)
        evict_s = time.perf_counter() - t0
        evict_group = groups.close() if groups is not None else None
        # one generation wave re-fetches every evicted url; the children it
        # discovers are all seen, so a second wave would admit nothing
        gen = timed_crawl(self.spark, self.pages, urls,
                          dataclasses.replace(cfg, max_waves=1),
                          continue_seen=True, groups=groups)

        refetched = visited(gen.result.fetch_log, min_wave=last_wave + 1)
        if n_evicted != len(evict):
            problems.append(f"evicted {n_evicted} of {len(evict)} urls")
        if (sorted(c for _w, c, _u in refetched)
                != sorted({canonicalize(u) for u in evict})):
            problems.append("re-fetched set differs from the evicted set")
        if seen_set(gen.result) != self.want_seen:
            problems.append("seen set after refresh differs from crawl.simulator")
        extra = {
            "refresh_s": evict_s + gen.wall_s,
            "seeds": len(urls),
            "readmitted": gen.result.metrics[0]["n_admitted"] if gen.result.metrics else 0,
            "evict_group": evict_group,
        }
        return Iteration(drain.wall_s + evict_s + gen.wall_s, drain.rows,
                         drain.wall_s, drain.wave_s + gen.wave_s, [drain, gen],
                         problems, extra)


WORKLOADS = {w.name: w for w in (DiscoveryPolite, BulkRefresh)}
