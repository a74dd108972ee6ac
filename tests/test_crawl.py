"""Crawl-core tests: bloom seen filter, politeness top-k, crawl-order
equivalence vs the single-threaded reference simulator, partition-layout
invariance, resume (SURVEY.md §5.3/5.5).

One canonical crawl (fixture) is shared across assertions; the invariance and
resume tests re-run with perturbed layouts/interruptions and must reproduce
the canonical visit order exactly.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wss_spark.crawl import bloom
from wss_spark.crawl.frontier import CrawlConfig, run_crawl, visit_order
from wss_spark.crawl.politeness import per_host_topk
from wss_spark.crawl.simulator import canonicalize, simulate
from wss_spark.functions.urls import canonicalize_url
from wss_spark.synth import build_pages_df, seed_list

M_BITS = 1 << 16
N_BUCKETS = 8
BUDGET = 5
N_TARGETS = 8
BLOCKED = [("weibo.cn", "/mblog/picAll")]  # hot-host album pages


def test_bloom_no_false_negatives(spark):
    urls = [(f"https://weibo.cn/comment/x{i}",) for i in range(500)]
    df = bloom.with_hash_cols(
        spark.createDataFrame(urls, "canon_url string"), n_buckets=N_BUCKETS
    )
    state = bloom.update(bloom.empty_state(spark, N_BUCKETS), df, M_BITS)
    flagged = bloom.prefilter(df, state, M_BITS)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # no false negatives

    fresh = bloom.with_hash_cols(
        spark.createDataFrame(
            [(f"https://weibo.cn/comment/y{i}",) for i in range(500)],
            "canon_url string",
        ),
        n_buckets=N_BUCKETS,
    )
    fp = bloom.prefilter(fresh, state, M_BITS).filter(F.col("maybe_seen")).count()
    assert fp < 50  # bloom prunes the vast majority of truly-new urls


def test_bloom_incremental_update(spark):
    a = bloom.with_hash_cols(
        spark.createDataFrame([("https://h/a",)], "canon_url string"), n_buckets=N_BUCKETS
    )
    b = bloom.with_hash_cols(
        spark.createDataFrame([("https://h/b",)], "canon_url string"), n_buckets=N_BUCKETS
    )
    st = bloom.update(bloom.empty_state(spark, N_BUCKETS), a, M_BITS)
    st = bloom.update(st, b, M_BITS)
    both = a.unionByName(b)
    assert bloom.prefilter(both, st, M_BITS).filter(~F.col("maybe_seen")).count() == 0
    assert st.agg(F.sum("count")).first()[0] == 2


def test_per_host_topk_matches_naive_window(spark):
    # skewed: 90% of rows on one host — exactly the north-rule scenario
    rows = []
    for i in range(2000):
        host = "hot.example" if i % 10 != 0 else f"cold{i % 7}.example"
        rows.append((f"https://{host}/p/{i:05d}", host, 0.0, i % 37, i % 3, 1 + i % 5))
    df = spark.createDataFrame(
        rows, "canon_url string, host string, priority double, seed_order long, stage int, page int"
    )
    got = per_host_topk(df, budget=25, n_salts=8)
    w = Window.partitionBy("host").orderBy("priority", "seed_order", "stage", "page", "canon_url")
    want = df.withColumn("host_rank", F.row_number().over(w)).filter(F.col("host_rank") <= 25)
    assert got.count() == want.count()
    assert (
        got.select("canon_url", "host_rank")
        .exceptAll(want.select("canon_url", "host_rank"))
        .count()
        == 0
    )


@pytest.fixture(scope="module")
def crawl_world(spark, tmp_path_factory):
    pages = build_pages_df(spark, N_TARGETS, seed=42).cache()
    pages.count()
    seeds = seed_list(N_TARGETS, seed=42)
    page_map = {r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()}
    robots = spark.createDataFrame(
        [(h, p, False, None) for h, p in BLOCKED],
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    cfg = CrawlConfig(
        budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
        checkpoint_dir=str(tmp_path_factory.mktemp("canon")),
    )
    res = run_crawl(spark, pages, seeds, cfg, robots=robots)
    return {
        "pages": pages,
        "seeds": seeds,
        "page_map": page_map,
        "robots": robots,
        "result": res,
        "order": visit_order(res.fetch_log),
    }


def test_crawl_matches_reference_simulator(spark, crawl_world):
    res = crawl_world["result"]
    engine_seen = {r[0] for r in res.seen.select("canon_url").collect()}
    sim_order, sim_seen = simulate(
        crawl_world["page_map"], crawl_world["seeds"], BUDGET,
        robots_blocked_prefixes=BLOCKED,
    )
    assert crawl_world["order"] == sim_order
    assert engine_seen == sim_seen
    assert len(sim_order) > N_TARGETS * 3  # the crawl actually expanded
    # every admitted url resolved in the pages table
    assert res.fetch_log.filter(F.col("status") == 404).count() == 0
    # robots actually blocked something
    assert res.fetch_log.filter(F.col("status") == 403).count() > 0


def test_extracted_text_byte_identical_through_crawl(spark, crawl_world):
    """North-star invariant: per-url extracted text == oracle text column,
    byte-for-byte, for every page the crawl fetched."""
    res = crawl_world["result"]
    got = res.entities.filter(F.col("kind") == "page").select("url", "text")
    joined = got.join(
        crawl_world["pages"].select("url", F.col("text").alias("oracle")), "url"
    )
    n = joined.count()
    assert n > 0
    assert joined.filter(F.col("text") != F.col("oracle")).count() == 0


def test_crawl_order_invariant_to_partitioning(spark, tmp_path, crawl_world):
    """North rule: ordering is a pure function of data — bloom layout, salt
    count, snapshot cadence, and input partitioning must not change it."""
    cfg = CrawlConfig(budget=BUDGET, n_buckets=32, m_bits=M_BITS * 2, n_salts=64,
                      checkpoint_every=3, checkpoint_dir=str(tmp_path / "alt"))
    alt = run_crawl(
        spark, crawl_world["pages"].repartition(17), crawl_world["seeds"], cfg,
        robots=crawl_world["robots"],
    )
    assert visit_order(alt.fetch_log) == crawl_world["order"]


def test_crawl_defer_logs_invariance(spark, tmp_path, crawl_world):
    """defer_logs=True (the bench/bulk configuration: per-wave fetch logs
    stay as persisted unions instead of per-wave parquet writes) is a
    materialization choice only — the returned fetch_log must carry the
    same visit order and the same rows as the written-log variant, and it
    must still materialize correctly AFTER run_crawl has dropped the fetch
    index cache (the deferred parts' lineage reads the admitted caches and
    the parquet entities log, never the (url, html) index)."""
    cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      defer_logs=True,
                      checkpoint_dir=str(tmp_path / "defer"))
    alt = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg,
                    robots=crawl_world["robots"])
    assert visit_order(alt.fetch_log) == crawl_world["order"]
    base = crawl_world["result"].fetch_log.select(
        "url", "canon_url", "wave", "rank_in_wave", "status"
    )
    ours = alt.fetch_log.select(
        "url", "canon_url", "wave", "rank_in_wave", "status"
    )
    assert ours.exceptAll(base).count() == 0
    assert base.exceptAll(ours).count() == 0


def test_crawl_fetch_strategy_invariance(spark, tmp_path, crawl_world):
    """The fetch strategy (persisted url-partitioned index vs streaming the
    pages table into the join, CrawlConfig.cache_pages) is a physical-plan
    choice only — visit order and seen set must be bit-identical. The
    synthetic pages table is canonical (unique url), so dedup_pages=False
    is sound here, matching the bulk-drain bench configuration."""
    cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      cache_pages=False, dedup_pages=False,
                      checkpoint_dir=str(tmp_path / "stream"))
    alt = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg,
                    robots=crawl_world["robots"])
    assert visit_order(alt.fetch_log) == crawl_world["order"]
    canon_seen = crawl_world["result"].seen.select("canon_url")
    assert alt.seen.select("canon_url").exceptAll(canon_seen).count() == 0
    assert canon_seen.exceptAll(alt.seen.select("canon_url")).count() == 0


def test_crawl_resume_equals_uninterrupted(spark, tmp_path, crawl_world):
    part_dir = str(tmp_path / "part")
    part_cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                           max_waves=3, checkpoint_every=2, checkpoint_dir=part_dir)
    run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], part_cfg,
              robots=crawl_world["robots"])
    resumed_cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                              checkpoint_every=2, checkpoint_dir=part_dir)
    resumed = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"],
                        resumed_cfg, robots=crawl_world["robots"], resume=True)

    assert visit_order(resumed.fetch_log) == crawl_world["order"]
    full_seen = crawl_world["result"].seen.select("canon_url")
    assert resumed.seen.select("canon_url").exceptAll(full_seen).count() == 0
    assert full_seen.exceptAll(resumed.seen.select("canon_url")).count() == 0


def test_windowed_search_chain_preserves_window_params(spark, tmp_path):
    """ADVICE r02: a windowed advanced-search seed must chain its stage-6
    continuations WITH the advancedfilter/starttime/endtime params (the
    reference sends them on every page, `独立版/WeiboTopicScrapy.py:438-446`)
    and with the real page number parsed from anywhere in the query string —
    engine order/seen vs the simulator, plus direct URL-shape assertions."""
    import re as _re

    from wss_spark.crawl.discover import search_window_urls
    from wss_spark.schema import PAGES
    from wss_spark.synth import render_windowed_search_pages

    win = search_window_urls(spark, "topic0", "2023-5-1-0", "2023-5-2-0")
    wrows = win.select("starttime", "endtime", "url").collect()
    windows = [(r["starttime"], r["endtime"]) for r in wrows]
    seeds = [r["url"] for r in wrows]
    assert len(seeds) == 2  # two day-sliced windows
    rows = render_windowed_search_pages(0, 10, 42, windows)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        PAGES,
    )
    cfg = CrawlConfig(budget=4, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_dir=str(tmp_path / "win"))
    res = run_crawl(spark, pages, seeds, cfg)
    sim_order, sim_seen = simulate({r["url"]: r["html"] for r in rows}, seeds, 4)
    assert visit_order(res.fetch_log) == sim_order
    assert {r[0] for r in res.seen.select("canon_url").collect()} == sim_seen
    fetched = [
        r[0]
        for r in res.fetch_log.filter(F.col("stage") == 6).select("canon_url").collect()
    ]
    assert fetched, "stage-6 windowed continuations must exist"
    assert all("advancedfilter=1" in u and "starttime=" in u for u in fetched)
    assert any("page=2" in u for u in fetched)
    # each window seeded its own independent chain
    starts = {_re.search(r"starttime=([^&]+)", u).group(1) for u in fetched}
    assert starts == {st for st, _ in windows}


def test_supertopic_chain_matches_simulator(spark, tmp_path):
    """Supertopic active-user family (`独立版/WeiboSuperTopicActiveUserSpider
    .py`): since_id feed chains (stage 8) through the full crawl — engine
    order/seen vs the simulator, continuation URL shape, and the first-seen
    active-uid dedup vs the model-derived expectation."""
    import re as _re

    from wss_spark.synth import (
        build_supertopic_pages_df,
        expected_supertopic_users,
        render_supertopic_pages,
        supertopic_page_id,
        supertopic_url,
    )

    n_topics = 3
    pages = build_supertopic_pages_df(spark, n_topics, seed=42)
    seeds = [
        supertopic_url(supertopic_page_id(i), 2, None) for i in range(n_topics)
    ]
    page_map = {}
    for i in range(n_topics):
        for r in render_supertopic_pages(i, 42):
            page_map[r["url"]] = r["html"]
    cfg = CrawlConfig(budget=5, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_dir=str(tmp_path / "st"))
    res = run_crawl(spark, pages, seeds, cfg)
    sim_order, sim_seen = simulate(page_map, seeds, 5)
    assert visit_order(res.fetch_log) == sim_order
    assert {r[0] for r in res.seen.select("canon_url").collect()} == sim_seen
    # stage-8 continuations carry an incremented page and a since_id
    conts = [
        r[0]
        for r in res.fetch_log.filter(F.col("stage") == 8).select("canon_url").collect()
    ]
    assert conts, "stage-8 supertopic continuations must exist"
    assert all(_re.search(r"[?&]since_id=\d+", u) for u in conts)
    assert all(int(_re.search(r"[?&]page=(\d+)", u).group(1)) >= 3 for u in conts)
    # every chain ends on its empty stop page (T6): one fetched page per
    # topic has no photos
    photos = res.entities.filter(F.col("kind") == "supertopic_photo")
    from pyspark.sql.window import Window

    w_first = Window.partitionBy("root_id", "user_id").orderBy("page", "block_index")
    w_seq = Window.partitionBy("root_id").orderBy("page", "block_index")
    got = sorted(
        (r["root_id"], r["seq"], f"https://weibo.com/u/{r['user_id']}")
        for r in photos.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .withColumn("seq", F.row_number().over(w_seq))
        .select("root_id", "seq", "user_id")
        .collect()
    )
    assert got == sorted(expected_supertopic_users(n_topics, 42))


def test_parse_supertopic_tolerates_garbage():
    from wss_spark.extraction.kernel import parse_supertopic

    for bad in (None, b"", b"<<<garbage", b'{"ok":1}', b'{"data": 5}',
                b'{"data": "<div>no photos</div>"}'):
        out = parse_supertopic(bad)
        assert out["photos"] == [] and out["since_id"] is None


def test_canonicalize_parity(spark):
    """Spark canonicalizer == simulator canonicalizer on every url family."""
    urls = [
        "https://weibo.cn/comment/Qb1?page=1",
        "https://WEIBO.cn/comment/Qb1",
        "https://weibo.cn/repost/Qb1?page=2#frag",
        "https://weibo.cn/2000000001/info?",
        "https://weibo.cn/mblog/picAll/Qb1?rl=1",
        "https://weibo.cn/",
        "https://weibo.cn/path/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert got == [canonicalize(u) for u in urls]


def test_crawl_delay_zero_means_no_cap(spark, crawl_world):
    """`Crawl-delay: 0` is a real-world robots value meaning "no delay" —
    it must behave exactly like an absent/null delay (global budget), not
    divide by zero (Spark 4 ANSI mode raises DIVIDE_BY_ZERO, which would
    kill run_crawl at its eager budget localCheckpoint)."""
    from wss_spark.crawl.politeness import host_budgets

    robots = spark.createDataFrame(
        [("zero.cn", "/", True, 0), ("null.cn", "/", True, None),
         ("neg.cn", "/", True, -5), ("slow.cn", "/", True, 10)],
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    rows = {r["host"]: r["host_budget"]
            for r in host_budgets(robots, budget=5, wave_seconds=30.0).collect()}
    # only the positive delay is emitted; everyone else defaults to the
    # global budget at the join
    assert rows == {"slow.cn": 3}

    # the simulator applies the same rule: a declared 0 delay is a no-op —
    # identical order and seen set to the canonical no-delay run
    sim_order, sim_seen = simulate(
        crawl_world["page_map"], crawl_world["seeds"], BUDGET,
        robots_blocked_prefixes=BLOCKED,
        crawl_delays={"weibo.cn": 0.0}, wave_seconds=30.0,
    )
    assert sim_order == crawl_world["order"]
    assert sim_seen == {r[0] for r in
                        crawl_world["result"].seen.select("canon_url").collect()}

    # contradictory configuration fails fast: budget=None (bulk drain,
    # politeness skipped) together with a DECLARED positive crawl_delay
    # must raise instead of silently ignoring the delay
    with pytest.raises(ValueError, match="crawl_delay"):
        run_crawl(
            spark, crawl_world["pages"], crawl_world["seeds"],
            CrawlConfig(budget=None, max_waves=1),
            robots=spark.createDataFrame(
                [("weibo.cn", "/", True, 10)],
                "host string, path_prefix string, allowed boolean, crawl_delay int",
            ),
        )


def test_per_host_topk_custom_host_col_with_budgets(spark):
    """per_host_topk(host_col=...) must compose with a host_budget table
    (host_budgets always emits a column literally named 'host')."""
    from wss_spark.crawl.politeness import host_budgets, per_host_topk

    frontier = spark.createDataFrame(
        [("d1", f"https://d1/{i}", float(i)) for i in range(6)]
        + [("d2", f"https://d2/{i}", float(i)) for i in range(6)],
        "domain string, canon_url string, priority double",
    )
    robots = spark.createDataFrame(
        [("d1", "/", True, 15)],
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    hb = host_budgets(robots, budget=4, wave_seconds=30.0)  # d1 -> 2
    got = per_host_topk(
        frontier, budget=4, n_salts=4, order_cols=["priority", "canon_url"],
        host_col="domain", host_budget=hb,
    )
    counts = {r["domain"]: r["n"] for r in
              got.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert counts == {"d1": 2, "d2": 4}  # declared delay caps d1, d2 global


def test_parse_robots_matches_reference_interpreter(spark):
    """The distributed window-based robots.txt parser must agree row-exactly
    with the independent imperative RFC 9309 interpreter, for the exact
    agent, the wildcard, and an unknown agent (→ '*' groups only)."""
    from wss_spark.crawl.robots import parse_robots
    from wss_spark.synth import expected_robots_rules, render_robots_texts

    raw = spark.createDataFrame(
        render_robots_texts(30), "host string, robots_txt string"
    ).repartition(7)  # partition layout must not matter
    for agent in ("wss", "*", "nosuchbot"):
        got = sorted(
            ((r["host"], r["path_prefix"], r["allowed"], r["crawl_delay"])
             for r in parse_robots(raw, agent=agent).collect()),
            key=str,
        )
        assert got == sorted(expected_robots_rules(30, agent=agent), key=str)


def test_parse_robots_handcrafted_edges(spark):
    """Pinned semantics on a hand-written robots.txt: stacked groups, empty
    Disallow, comments, junk mid-run, crawl-delay attach, group isolation."""
    from wss_spark.crawl.robots import parse_robots

    txt = "\n".join([
        "# header comment",
        "User-agent: otherbot",
        "User-agent: wss  # stacked, exact match",
        "Disallow: /private",
        "Crawl-delay: 7",
        "Disallow:",                 # empty → allow-all → NO rule row
        "User-agent: nope",
        "Disallow: /hidden",         # non-matching group → dropped
        "junk without separator",    # no-op, must not split anything
        "User-agent: *",
        "Allow: /public",            # second matching group, no delay
    ])
    raw = spark.createDataFrame([("h1", txt)], "host string, robots_txt string")
    got = sorted(
        (r["path_prefix"], r["allowed"], r["crawl_delay"])
        for r in parse_robots(raw, agent="wss").collect()
    )
    assert got == [("/private", False, 7), ("/public", True, None)]


def test_crawl_delay_longer_than_wave(spark, tmp_path, crawl_world):
    """A declared delay LONGER than a wave gates the host to every Nth wave
    (period = ceil(delay/wave_seconds)) instead of being clamped to one
    fetch per wave — engine and simulator must agree on the resulting
    order and seen set, and the hot host must appear only on its on-waves."""
    pages = build_pages_df(spark, 3, seed=42)
    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    seeds = seed_list(3, seed=42)
    robots = spark.createDataFrame(
        [("weibo.cn", "/", True, 60)],  # period = ceil(60/30) = 2
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    max_waves = 8  # truncated horizon: equivalence on the prefix
    cfg = CrawlConfig(
        budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS, wave_seconds=30.0,
        max_waves=max_waves, checkpoint_dir=str(tmp_path / "longdelay"),
    )
    res = run_crawl(spark, pages, seeds, cfg, robots=robots)
    sim_order, sim_seen = simulate(
        page_map, seeds, BUDGET, max_waves=max_waves,
        crawl_delays={"weibo.cn": 60.0}, wave_seconds=30.0,
    )
    assert visit_order(res.fetch_log) == sim_order
    assert {r[0] for r in res.seen.select("canon_url").collect()} == sim_seen
    hot = res.fetch_log.filter(F.col("host") == "weibo.cn")
    hot_waves = sorted(r["wave"] for r in hot.select("wave").distinct().collect())
    assert hot_waves and all(w % 2 == 0 for w in hot_waves)
    assert any(w > 0 for w in hot_waves)  # the gate actually spans waves
    # the per-wave cap on on-waves is 1 (floor(30/60)=0 clamped to 1)
    per_wave = [r["n"] for r in
                hot.groupBy("wave").agg(F.count("*").alias("n")).collect()]
    assert max(per_wave) == 1


def test_fresh_crawl_in_reused_checkpoint_dir(spark, tmp_path, crawl_world):
    """A FRESH (resume=False) crawl into a checkpoint_dir holding a previous
    crawl's committed seen segments must wipe them: stale segments serve
    reads for their whole wave range and would shadow the new crawl's
    rewritten wave dirs, poisoning the exact seen set."""
    import os

    d = str(tmp_path / "reused")
    cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_every=2, checkpoint_dir=d)
    first = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg)
    assert os.path.isdir(os.path.join(d, "seen_segments"))  # segments committed
    # materialize BEFORE the rerun: the fresh crawl wipes the dir's state,
    # which (as with any overwrite) invalidates the old result's lazy frames
    first_order = visit_order(first.fetch_log)
    first_seen = {r[0] for r in first.seen.select("canon_url").collect()}
    second = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg)
    assert visit_order(second.fetch_log) == first_order
    assert {r[0] for r in second.seen.select("canon_url").collect()} == first_seen


def test_recrawl_diff_and_refresh_seeds(spark):
    """Incremental re-crawl: diffing two snapshot generations classifies
    added urls as new and mutated payloads as changed; the derived seed
    list drives a refresh crawl that fetches exactly the delta."""
    from wss_spark.crawl.recrawl import recrawl_diff, recrawl_seeds

    old = build_pages_df(spark, 8, seed=42).cache()
    new = build_pages_df(spark, 10, seed=42).cache()  # superset: 2 new targets
    old_urls = {r["url"] for r in old.select("url").collect()}
    new_urls = {r["url"] for r in new.select("url").collect()}
    assert old_urls < new_urls

    diff = recrawl_diff(old, new, key_col="url", content_col="html")
    got = {r["url"]: r["change"] for r in diff.collect()}
    assert set(got.values()) == {"new"}
    assert set(got) == new_urls - old_urls

    # mutate one existing page's payload → changed
    target = sorted(old_urls)[0]
    mutated = new.withColumn(
        "html",
        F.when(F.col("url") == target,
               F.concat(F.col("html"), F.lit(b"<!-- rev2 -->")))
        .otherwise(F.col("html")),
    )
    diff2 = recrawl_diff(old, mutated, key_col="url", content_col="html")
    got2 = {r["url"]: r["change"] for r in diff2.collect()}
    assert got2[target] == "changed"
    assert all(c == "new" for u, c in got2.items() if u != target)
    # removed detection: drop a url from the new snapshot entirely
    gone = sorted(old_urls)[1]
    diff3 = recrawl_diff(old, new.filter(F.col("url") != gone),
                         key_col="url", content_col="html")
    assert {r["url"]: r["change"] for r in diff3.collect()}[gone] == "removed"

    # NULL content must not masquerade as absence: a url present only in
    # the old snapshot with NULL content is removed (not new), and a
    # null→value transition is a change
    o = spark.createDataFrame([("u1", None), ("u2", None), ("u3", "x")],
                              "url string, text string")
    n2 = spark.createDataFrame([("u2", "now"), ("u3", "x"), ("u4", None)],
                               "url string, text string")
    d = {r["url"]: r["change"]
         for r in recrawl_diff(o, n2, key_col="url", content_col="text").collect()}
    assert d == {"u1": "removed", "u2": "changed", "u4": "new"}

    # the refresh crawl fetches exactly the delta (seeds = new + changed)
    seeds = [r["url"] for r in recrawl_seeds(diff2).collect()]
    assert set(seeds) == (new_urls - old_urls) | {target}
    res = run_crawl(spark, mutated, sorted(seeds),
                    CrawlConfig(budget=None, max_waves=1, n_buckets=8,
                                m_bits=1 << 16))
    fetched = {r["canon_url"] for r in res.fetch_log.select("canon_url").collect()}
    want = {
        r["c"] for r in spark.createDataFrame([(s,) for s in seeds], "u string")
        .select(canonicalize_url(F.col("u")).alias("c")).collect()
    }  # the engine dedups seeds by canonical url (?page=1 ≡ main page)
    assert fetched == want
    old.unpersist(); new.unpersist()


def test_parse_sitemaps(spark):
    """Sitemap: directives are host-wide and group-independent; URL values
    keep their internal colons; comments/CRLF handled; dedup across
    repeats."""
    from wss_spark.crawl.robots import parse_sitemaps

    txt = "\r\n".join([
        "User-agent: nope",           # sitemaps are NOT bound to groups
        "Disallow: /x",
        "Sitemap: https://h1/a.xml",
        "sitemap:\thttps://h1/b.xml  # comment",
        "Sitemap: https://h1/a.xml",  # repeat → dedup
        "Sitemap:",                   # empty → dropped
    ])
    raw = spark.createDataFrame(
        [("h1", txt), ("h2", "no sitemap here")],
        "host string, robots_txt string",
    )
    got = sorted((r["host"], r["sitemap_url"])
                 for r in parse_sitemaps(raw).collect())
    assert got == [("h1", "https://h1/a.xml"), ("h1", "https://h1/b.xml")]


def test_sitemap_locs(spark):
    """Sitemap XML loc extraction: urlset + sitemapindex entries, inner
    whitespace trimmed, XML entities unescaped (&amp; last), empty locs
    dropped."""
    from wss_spark.crawl.robots import sitemap_locs

    xml = ("<?xml version=\"1.0\"?><urlset>"
           "<url><loc> https://h/a </loc><lastmod>x</lastmod></url>"
           "<url><loc>https://h/b?x=1&amp;y=2</loc></url>"
           "<url><loc>https://h/amp&amp;lt;kept</loc></url>"
           "<url><loc></loc></url></urlset>")
    idx = ("<sitemapindex><sitemap><loc>https://h/s2.xml</loc></sitemap>"
           "</sitemapindex>")
    df = spark.createDataFrame(
        [("https://h/s.xml", xml), ("https://h/i.xml", idx)],
        "url string, xml string",
    )
    got = sorted((r["sitemap_url"], r["loc"]) for r in sitemap_locs(df).collect())
    assert got == [
        ("https://h/i.xml", "https://h/s2.xml"),
        ("https://h/s.xml", "https://h/a"),
        ("https://h/s.xml", "https://h/amp&lt;kept"),
        ("https://h/s.xml", "https://h/b?x=1&y=2"),
    ]
    # a bare colon-less 'sitemap' line in robots.txt must not become a url
    from wss_spark.crawl.robots import parse_sitemaps
    bare = spark.createDataFrame([("h3", "sitemap\nSitemap: https://h3/s.xml")],
                                 "host string, robots_txt string")
    assert [(r["host"], r["sitemap_url"]) for r in parse_sitemaps(bare).collect()] \
        == [("h3", "https://h3/s.xml")]


def test_parse_robots_fuzz_vs_interpreter(spark):
    """Seeded fuzz: 120 adversarial robots.txt documents (CRLF, tabs,
    colons in values, weird casing, comment-only lines, delays with junk,
    directives before any group) — distributed parser vs the imperative
    interpreter must agree row-exactly."""
    import random

    from wss_spark.crawl.robots import parse_robots

    r = random.Random(20260818)
    frags = [
        "User-agent: *", "user-AGENT: wss", "USER-AGENT:\totherbot",
        "Disallow: /a", "disallow:\t/b/c", "Allow: /a:b:c",  # colons in value
        "Disallow:", "Allow:   ", "Crawl-delay: 4", "crawl-delay:\t9",
        "Crawl-delay: 4.5", "Crawl-delay: -2", "Crawl-delay: soon",
        "# only a comment", "", "   ", "no separator here",
        "Disallow: /x  # trailing comment", "Sitemap: https://h/x.xml",
        "Unknown-key: v", ":", ": empty key", "Disallow : /spaced-key",
    ]
    hosts = []
    for h in range(120):
        n = r.randint(1, 12)
        sep = r.choice(["\n", "\r\n"])
        hosts.append((f"f{h}.cn", sep.join(r.choice(frags) for _ in range(n))))

    def interpret(txt, agent):
        rows = set()
        groups, in_run = [], False
        for raw_line in txt.replace("\r\n", "\n").split("\n"):
            line = raw_line.split("#", 1)[0].strip()
            if ":" not in line:
                continue
            key, value = line.split(":", 1)
            key, value = key.strip().lower(), value.strip()
            if not key:
                continue
            if key == "user-agent":
                if not in_run:
                    groups.append((set(), []))
                    in_run = True
                groups[-1][0].add(value.lower())
            else:
                in_run = False
                if groups:
                    groups[-1][1].append((key, value))
        for agents, ds in groups:
            if agent not in agents and "*" not in agents:
                continue
            delay = None
            for k, v in ds:
                if k == "crawl-delay":
                    try:
                        iv = int(v)
                    except ValueError:
                        continue
                    if iv > 0:
                        delay = max(delay or 0, iv)
            for k, v in ds:
                if k == "allow":
                    rows.add((v, True, delay))
                elif k == "disallow" and v != "":
                    rows.add((v, False, delay))
        return rows

    raw = spark.createDataFrame(hosts, "host string, robots_txt string")
    for agent in ("wss", "otherbot"):
        got = {}
        for row in parse_robots(raw, agent=agent).collect():
            got.setdefault(row["host"], set()).add(
                (row["path_prefix"], row["allowed"], row["crawl_delay"]))
        want = {h: interpret(t, agent) for h, t in hosts}
        want = {h: s for h, s in want.items() if s}
        assert got == want, {h: (got.get(h), want.get(h))
                             for h in set(got) | set(want)
                             if got.get(h) != want.get(h)}


def test_parse_robots_composes_with_politeness(spark):
    """parse_robots output drives robots_gate and host_budgets directly:
    disallowed paths are gated out and the parsed crawl_delay caps per-host
    admission."""
    from wss_spark.crawl.politeness import host_budgets, per_host_topk, robots_gate
    from wss_spark.crawl.robots import parse_robots

    txt_a = "User-agent: *\nDisallow: /img/\nCrawl-delay: 15"
    txt_b = "User-agent: *\nAllow: /"
    raw = spark.createDataFrame(
        [("a.cn", txt_a), ("b.cn", txt_b)], "host string, robots_txt string"
    )
    rules = parse_robots(raw, agent="wss")
    frontier = spark.createDataFrame(
        [("a.cn", f"https://a.cn/img/{i}", float(i)) for i in range(3)]
        + [("a.cn", f"https://a.cn/page/{i}", float(i)) for i in range(6)]
        + [("b.cn", f"https://b.cn/page/{i}", float(i)) for i in range(6)],
        "host string, canon_url string, priority double",
    )
    gated = robots_gate(frontier, rules)
    assert gated.filter(F.col("canon_url").contains("/img/")).count() == 0
    assert gated.count() == 12
    hb = host_budgets(rules, budget=4, wave_seconds=30.0)  # a.cn → 2
    admitted = per_host_topk(gated, budget=4, n_salts=4,
                             order_cols=["priority", "canon_url"],
                             host_budget=hb)
    counts = {r["host"]: r["n"] for r in
              admitted.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a.cn": 2, "b.cn": 4}


def test_run_crawl_accepts_raw_robots_text(spark, tmp_path, crawl_world):
    """run_crawl given RAW (host, robots_txt) text must parse it in-engine
    and produce the IDENTICAL crawl to the same rules passed pre-parsed."""
    rules = spark.createDataFrame(
        [(h, p, False, None) for h, p in BLOCKED]
        + [("weibo.cn", "/", True, 10)],
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    by_host: dict[str, list[str]] = {}
    for h, p in BLOCKED:
        by_host.setdefault(h, []).append(f"Disallow: {p}")
    by_host.setdefault("weibo.cn", []).extend(["Allow: /", "Crawl-delay: 10"])
    raw = spark.createDataFrame(
        [(h, "User-agent: wssbot\n" + "\n".join(ls))
         for h, ls in by_host.items()],
        "host string, robots_txt string",
    )
    cfg = lambda sub: CrawlConfig(  # noqa: E731
        budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS, wave_seconds=30.0,
        robots_agent="wssbot", checkpoint_dir=str(tmp_path / sub),
    )
    res_raw = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"],
                        cfg("raw"), robots=raw)
    res_tbl = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"],
                        cfg("tbl"), robots=rules)
    assert visit_order(res_raw.fetch_log) == visit_order(res_tbl.fetch_log)
    assert ({r[0] for r in res_raw.seen.select("canon_url").collect()}
            == {r[0] for r in res_tbl.seen.select("canon_url").collect()})


def test_crawl_delay_budgets_match_simulator(spark, tmp_path, crawl_world):
    """Robots crawl_delay shapes per-host admission: with wave_seconds=30 and
    weibo.cn declaring delay 10, the hot host caps at floor(30/10)=3 per wave
    while cold hosts keep the global budget of 5 — engine and simulator must
    agree on the resulting order, seen set, and per-wave per-host counts."""
    delay_rules = BLOCKED + []
    robots = spark.createDataFrame(
        [(h, p, False, None) for h, p in BLOCKED]
        + [("weibo.cn", "/", True, 10)],
        "host string, path_prefix string, allowed boolean, crawl_delay int",
    )
    cfg = CrawlConfig(
        budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS, wave_seconds=30.0,
        checkpoint_dir=str(tmp_path / "delay"),
    )
    res = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg,
                    robots=robots)
    sim_order, sim_seen = simulate(
        crawl_world["page_map"], crawl_world["seeds"], BUDGET,
        robots_blocked_prefixes=delay_rules,
        crawl_delays={"weibo.cn": 10.0}, wave_seconds=30.0,
    )
    assert visit_order(res.fetch_log) == sim_order
    assert {r[0] for r in res.seen.select("canon_url").collect()} == sim_seen
    # the delayed host really is capped below the global budget: without a
    # declared delay (the canonical fixture run) weibo.cn fills the global
    # budget of 5 in some wave; with delay 10 it never exceeds floor(30/10)=3
    def hot_per_wave(fetch_log):
        rows = (
            fetch_log.filter((F.col("status") != 403) & (F.col("host") == "weibo.cn"))
            .groupBy("wave").agg(F.count("*").alias("n")).collect()
        )
        return [r["n"] for r in rows]

    canon_hot = hot_per_wave(crawl_world["result"].fetch_log)
    delayed_hot = hot_per_wave(res.fetch_log)
    assert max(canon_hot) == BUDGET       # undelayed: full global budget
    assert max(delayed_hot) == 3          # floor(30/10), < budget 5
    # the delayed crawl is a different schedule from the canonical one
    assert visit_order(res.fetch_log) != crawl_world["order"]


# ---------------------------------------------------------------------------
# per-wave bookkeeping: counts observed on writes, one commit for the last
# wave, the seed plan's single pass, and the per-wave Spark job floor
# ---------------------------------------------------------------------------

COUNT_FIELDS = ("n_frontier", "n_new", "n_admitted", "n_deferred", "n_entities")


def _recount_waves(spark, res, seeds):
    """Per-wave counts rebuilt from what the crawl persisted (fetch log,
    entities log, seen-key appends), independent of the engine's own
    bookkeeping. Wave w+1's frontier is wave w's deferred rows plus
    discover() over wave w's entities log; wave w's deferred rows are the
    distinct canon urls of its frontier that were neither seen before it
    nor newly seen in it. Returns the per-wave counts and the canon urls
    of the frontier after the last wave."""
    import os

    from wss_spark.crawl import checkpoint
    from wss_spark.crawl.discover import discover

    root = res.checkpoint_dir
    log = res.fetch_log.select("wave", "canon_url", "status").collect()
    front = [canonicalize(u) for u in seeds]
    seen: set[str] = set()
    out = []
    for m in res.metrics:
        w = m["wave"]
        rows = [r for r in log if r["wave"] == w]
        new = {r["canon_url"] for r in rows}
        deferred = set(front) - seen - new
        entities = checkpoint.read_log_wave(spark, root, "entities", w)
        appended = spark.read.parquet(
            os.path.join(root, "seen_keys", f"wave={w:05d}")).count()
        assert appended == len(rows)  # the seen store got exactly n_new keys
        out.append({
            "n_frontier": len(front),
            "n_new": len(rows),
            "n_admitted": sum(r["status"] != 403 for r in rows),
            "n_deferred": len(deferred),
            "n_entities": entities.count(),
        })
        seen |= new
        front = sorted(deferred) + [
            r[0] for r in discover(entities).select("canon_url").collect()
        ]
    return out, front


def _assert_metrics_exact(spark, res, seeds) -> list[str]:
    """Observed metrics == counts recomputed from the persisted state; the
    last snapshot and the metrics log agree. Returns the final frontier."""
    from wss_spark.crawl import checkpoint

    want, front = _recount_waves(spark, res, seeds)
    assert [{k: m[k] for k in COUNT_FIELDS} for m in res.metrics] == want
    root = res.checkpoint_dir
    snap = checkpoint.latest_snapshot(root)
    assert snap.wave == res.metrics[-1]["wave"]
    assert snap.manifest["frontier_rows"] == len(front)
    assert checkpoint.read_state(spark, root, snap.wave)[0].count() == len(front)
    logged = sorted(
        tuple(r) for r in checkpoint.read_log(spark, root, "metrics")
        .select("wave", *COUNT_FIELDS).collect()
    )
    assert logged == [(m["wave"], *(m[k] for k in COUNT_FIELDS))
                      for m in res.metrics]
    return front


def test_wave_metrics_exact_under_robots(spark, crawl_world):
    """The canonical crawl: budget binds, robots blocks rows (n_new counts
    them, n_admitted does not)."""
    res = crawl_world["result"]
    _assert_metrics_exact(spark, res, crawl_world["seeds"])
    assert any(m["n_new"] > m["n_admitted"] for m in res.metrics)
    assert any(m["n_deferred"] > 0 for m in res.metrics)


def test_wave_metrics_exact_when_cut_off_cadence(spark, tmp_path, crawl_world):
    """max_waves=2 with cadence 4: the last wave is off the cadence and
    writes its snapshot itself."""
    cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      max_waves=2, checkpoint_every=4,
                      checkpoint_dir=str(tmp_path / "cut"))
    res = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg)
    assert [m["wave"] for m in res.metrics] == [0, 1]
    front = _assert_metrics_exact(spark, res, crawl_world["seeds"])
    assert front  # the cut left work pending
    assert any(m["n_deferred"] > 0 for m in res.metrics)


def test_wave_metrics_exact_to_empty_frontier(spark, tmp_path):
    """A crawl that runs until its frontier is empty, the budget binding on
    the way."""
    pages = build_pages_df(spark, 2, seed=42)
    seeds = seed_list(2, seed=42)
    cfg = CrawlConfig(budget=3, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_every=3, checkpoint_dir=str(tmp_path / "drain"))
    res = run_crawl(spark, pages, seeds, cfg)
    front = _assert_metrics_exact(spark, res, seeds)
    assert front == []
    assert any(m["n_deferred"] > 0 for m in res.metrics)


@pytest.mark.parametrize("budget", [None, BUDGET])
def test_seed_dataframe_plan_runs_once(spark, tmp_path, crawl_world, budget):
    """A caller's seed DataFrame has one consumer, the wave-0 dedup chain,
    so its plan runs once per crawl: wave 0's n_frontier is observed on
    that pass, not counted by a job of its own."""
    import pandas as pd

    seeds = crawl_world["seeds"]
    calls = spark.sparkContext.accumulator(0)

    def _tag(u):
        calls.add(1)
        return u

    tag = F.udf(_tag, "string").asNondeterministic()
    seed_df = spark.createDataFrame(pd.DataFrame({"url": seeds})).select(
        tag("url").alias("url"))
    cfg = CrawlConfig(budget=budget, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      max_waves=2, checkpoint_dir=str(tmp_path / "seeds"))
    res = run_crawl(spark, crawl_world["pages"], seed_df, cfg)
    assert calls.value == len(seeds)
    assert res.metrics[0]["n_frontier"] == len(seeds)


def test_empty_seed_dataframe_writes_nothing(spark, tmp_path, crawl_world):
    """An empty seed DataFrame stops after wave 0's admit pass: no wave
    metrics, no logs, no snapshot."""
    from wss_spark.crawl import checkpoint

    root = str(tmp_path / "empty")
    cfg = CrawlConfig(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_dir=root)
    seed_df = spark.createDataFrame([], "url string")
    res = run_crawl(spark, crawl_world["pages"], seed_df, cfg)
    assert res.metrics == [] and res.waves == 0
    assert checkpoint.latest_snapshot(root) is None
    assert not checkpoint.has_state(root)


def test_resume_from_final_wave_snapshot(spark, tmp_path, crawl_world):
    """A max_waves-cut crawl commits its last wave once: the wave writes
    the snapshot itself, off the checkpoint_every cadence, and nothing is
    compacted for it. Resuming from that snapshot reproduces the
    uninterrupted crawl: visit order, seen set, per-wave counts, and the
    same committed seen-store segments as cadence-only compaction."""
    import json
    import os

    from wss_spark.crawl import checkpoint

    kw = dict(budget=BUDGET, n_buckets=N_BUCKETS, m_bits=M_BITS,
              checkpoint_every=3)
    args = (spark, crawl_world["pages"], crawl_world["seeds"])
    cut_dir, full_dir = str(tmp_path / "cut"), str(tmp_path / "full")
    run_crawl(*args, CrawlConfig(max_waves=2, checkpoint_dir=cut_dir, **kw),
              robots=crawl_world["robots"])
    snap = checkpoint.latest_snapshot(cut_dir)
    assert snap.wave == 1 and snap.manifest["frontier_rows"] > 0
    assert checkpoint.last_compacted_wave(cut_dir) == -1

    resumed = run_crawl(*args, CrawlConfig(checkpoint_dir=cut_dir, **kw),
                        robots=crawl_world["robots"], resume=True)
    full = run_crawl(*args, CrawlConfig(checkpoint_dir=full_dir, **kw),
                     robots=crawl_world["robots"])
    assert visit_order(resumed.fetch_log) == visit_order(full.fetch_log)
    assert visit_order(full.fetch_log) == crawl_world["order"]
    assert ({r[0] for r in resumed.seen.select("canon_url").collect()}
            == {r[0] for r in full.seen.select("canon_url").collect()})
    assert ([{k: m[k] for k in ("wave", *COUNT_FIELDS)} for m in resumed.metrics]
            == [{k: m[k] for k in ("wave", *COUNT_FIELDS)} for m in full.metrics[2:]])

    def segments(root):
        sr = os.path.join(root, "seen_segments")
        out = {}
        for e in sorted(os.listdir(sr)):
            mf = os.path.join(sr, e, "_SEG_COMMIT.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    out[e] = json.load(f)["zones"]
        return out

    assert segments(full_dir)  # the crawl is long enough to compact
    assert segments(cut_dir) == segments(full_dir)


def test_wave_job_floor(spark, tmp_path, crawl_world):
    """The per-wave Spark job floor of a budgeted 2-wave crawl (snapshot
    cadence 2), each wave in its own job group opened from ``on_wave``.
    A wave must not pay a job just to count rows it has written: counts
    ride on the writes as observations. Budgets per group, each job named
    (a shuffle or broadcast stage under adaptive execution runs as a job
    of its own):

    wave 0 (19)
      7  admit: the admitted cache via the in-wave dedup and both
         per-host rank windows (shuffle stages + the count)
      4  entities write: the url-partitioned pages cache, the fetch join
         and the extraction
      2  fetch-log write: the status join and the write
      1  seen-key append (one flat file)
      5  snapshot: the admitted-key broadcast of the deferred anti-join,
         the frontier write, the bloom update's two shuffle stages and
         its write
    wave 1 (21)
      5  probe range collect over the persisted bloom-flagged candidates
      5  admit: the exact seen anti-join and the rank windows
      2  entities write (the pages cache exists now)
      2  fetch-log write
      1  seen-key append
      6  the last wave's snapshot, written once: the wave-0 items plus the
         exact anti-join feeding the deferred branch
    tail (3)
      1  metrics-log write
      2  the caller's fetch_log.count()
    """
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    groups: list[str] = []

    def open_group(label: str) -> None:
        groups.append(f"floor-{tag}-{label}")
        sc.setJobGroup(groups[-1], label)

    cfg = CrawlConfig(budget=2, max_waves=2, checkpoint_every=2,
                      n_buckets=N_BUCKETS, m_bits=M_BITS,
                      checkpoint_dir=str(tmp_path / "floor"))
    open_group("w0")
    try:
        res = run_crawl(spark, crawl_world["pages"], crawl_world["seeds"], cfg,
                        on_wave=lambda m: open_group(f"w{m['wave'] + 1}"))
        res.fetch_log.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert len(jobs) == 3  # two waves and the tail
    assert jobs[0] <= 19 and jobs[1] <= 21 and jobs[2] <= 3, jobs
