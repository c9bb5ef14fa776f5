"""End-to-end crawl engine tests against the pure-Python oracle — the analog
of the reference's golden-count cached-crawl tests (test_full_crawl.py).

The oracle (testing/graph.simulate_crawl) independently reimplements the
crawl semantics sequentially; the Spark engine must reproduce its exact
seen-set, emitted-URL set, per-wave scheduled counts and crawl ordering."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.config import CrawlConfig
from searchgov_spider_spark.plans.crawl import CrawlEngine
from searchgov_spider_spark.sources.fetch import TablePageFetcher
from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs, simulate_crawl

CFG = CrawlConfig(wave_seconds=30.0, salt_buckets=4)


@pytest.fixture(scope="module")
def graph():
    return generate_graph(n_pages=300, seed=42)


@pytest.mark.parametrize(
    "n_pages,seed,digest",
    [
        (400, 7, "023017f2c903476c579240922d18258109d2314afc066272d8b194400efc15b7"),
        (1500, 42, "62d926e6e15edc7e11a46e70fe0f27dc0e29b50791343000114e96a843a17d6e"),
    ],
)
def test_generate_graph_is_stable(n_pages, seed, digest):
    """The replay web is byte-identical across generator rewrites: a digest
    of every page (links and body included), the seed rows and the robots
    rows, pinned from the original quadratic generator."""
    import hashlib
    import json

    g = generate_graph(n_pages=n_pages, seed=seed)
    h = hashlib.sha256()
    for p in g["pages"]:
        h.update(json.dumps(
            [p.url, p.domain, p.http_status, p.content_type, p.content_language,
             p.spans, p.out_links, p.body.hex()],
            sort_keys=True,
        ).encode())
    h.update(json.dumps([g["seeds_rows"], g["robots_rows"]]).encode())
    assert h.hexdigest() == digest


@pytest.fixture(scope="module")
def crawl_outputs(spark, graph):
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    engine = CrawlEngine(
        spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df, config=CFG
    )
    result = engine.run(max_waves=12)
    sim = simulate_crawl(graph, CFG, max_waves=12)
    return result, sim


def test_seen_set_matches_oracle(crawl_outputs):
    result, sim = crawl_outputs
    engine_seen = {r["canon_url"] for r in result.seen.collect()}
    assert engine_seen == sim.seen


def test_scheduled_counts_match_oracle(crawl_outputs):
    result, sim = crawl_outputs
    assert result.scheduled_per_wave == sim.scheduled_per_wave


def test_emitted_urls_match_oracle(crawl_outputs):
    result, sim = crawl_outputs
    emitted = {r["url"] for r in result.documents.select("url").collect()}
    assert emitted == sim.emitted
    assert result.documents.count() == sim.documents


def test_politeness_budget_respected(crawl_outputs, graph):
    result, sim = crawl_outputs
    # no wave schedules more than the budget for any domain: verify via
    # metrics (scheduled <= n_domains * budget) and oracle equality above
    budget = CFG.wave_budget(1.0)
    assert all(w.scheduled <= 4 * budget for w in result.waves)


def test_robots_blocked_never_fetched(crawl_outputs):
    result, _ = crawl_outputs
    assert result.seen.filter(F.col("canon_url").contains("/private/")).count() == 0


def test_deny_and_offsite_never_seen(crawl_outputs):
    result, _ = crawl_outputs
    seen = result.seen
    assert seen.filter(F.col("canon_url").contains("/tag/")).count() == 0
    assert seen.filter(F.col("canon_url").contains("external-site")).count() == 0


def test_documents_spans_match_golden(crawl_outputs, graph):
    """Emitted documents carry the exact golden span sequences — for both
    HTML pages and PDFs (L4 covers both halves)."""
    result, _ = crawl_outputs
    # key by canonical URL: a page may be fetched via a fragment-variant link
    from searchgov_spider_spark.functions.urls import canonicalize_url

    golden = {p.canon_url: p.spans for p in graph["pages"]}
    rows = result.documents.filter(
        F.col("content_type").startswith("text/html")
        | F.col("content_type").startswith("application/pdf")
    ).collect()
    assert rows
    assert any(r["content_type"].startswith("application/pdf") for r in rows)
    for r in rows:
        want = golden[canonicalize_url(r["url"])]
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in (r["spans"] or [])]
        assert got == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want]


def test_span_equality_pass_rate_100(crawl_outputs, graph, spark):
    """The BASELINE metric, computed the way a cluster run would: the
    distributed span_sequence_equality audit of every emitted document
    against the golden reference spans reports a 100% pass rate — one
    aggregate over the operator output, no driver-side span loops."""
    from searchgov_spider_spark.functions.urls import canonicalize_url
    from searchgov_spider_spark.pipelines.spans import SPAN_SCHEMA, span_sequence_equality

    result, _ = crawl_outputs
    ours = (
        result.documents.filter(
            F.col("content_type").startswith("text/html")
            | F.col("content_type").startswith("application/pdf")
        )
        .select(F.col("url"), F.col("spans"))
        .collect()
    )
    fetched = {canonicalize_url(r["url"]) for r in ours}
    ours_df = spark.createDataFrame(
        [(canonicalize_url(r["url"]), r["spans"]) for r in ours],
        f"doc_id string, spans {SPAN_SCHEMA}",
    )
    golden_df = spark.createDataFrame(
        [
            (p.canon_url, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p.spans])
            for p in graph["pages"]
            if p.canon_url in fetched
        ],
        f"doc_id string, spans {SPAN_SCHEMA}",
    )
    eq = span_sequence_equality(ours_df, golden_df)
    [agg] = eq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("equal").cast("long")).alias("n_equal"),
    ).collect()
    assert agg["n"] == len(fetched) > 0
    assert agg["n_equal"] == agg["n"], "span-sequence equality pass rate < 100%"


def test_resume_from_checkpoint(spark, graph, tmp_path):
    """Interrupt after N waves, resume from the persisted state, converge to
    the same seen-set (P4 semantics: wave checkpoints + idempotent dedup)."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    e1 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                     config=CFG, state_dir=state)
    r1 = e1.run(max_waves=2)
    # resume: rebuild engine, reload persisted frontier + accumulated
    # seen deltas (seen is stored incrementally — one delta dir per wave)
    from searchgov_spider_spark.sources.state import ParquetStateStore

    frontier = spark.read.parquet(f"{state}/frontier/wave=2").drop("bucket")
    seen = (
        ParquetStateStore(spark, state)
        .read_accumulated("seen", up_to=2)
        .select("url_hash", "canon_url")
    )
    e2 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df, config=CFG)
    r2 = e2.run_from(frontier, seen, start_wave=2, max_waves=12)
    sim = simulate_crawl(graph, CFG, max_waves=12)
    resumed_seen = {r["canon_url"] for r in r2.seen.collect()}
    assert resumed_seen == sim.seen
    assert [w.scheduled for w in r1.waves] + [w.scheduled for w in r2.waves] == sim.scheduled_per_wave


def test_resume_classmethod_and_state_store(spark, graph, tmp_path):
    """CrawlEngine.resume picks up from the latest committed snapshot via
    ParquetStateStore; snapshot expiry keeps only recent waves."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    e1 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                     config=CFG, state_dir=state)
    r1 = e1.run(max_waves=2)

    r2 = CrawlEngine.resume(spark, seeds_df, TablePageFetcher(pages_df), state,
                            robots=robots_df, config=CFG)
    sim = simulate_crawl(graph, CFG, max_waves=CFG.max_waves)
    assert {r["canon_url"] for r in r2.seen.collect()} == sim.seen
    assert [w.scheduled for w in r1.waves] + [w.scheduled for w in r2.waves] == sim.scheduled_per_wave

    store = ParquetStateStore(spark, state)
    waves = store.committed_waves("seen")
    assert len(waves) >= 2
    # seen is delta-per-wave: compaction merges deltas without data loss
    merged = store.compact("seen")
    assert merged == len(waves) - 1
    assert store.committed_waves("seen") == [waves[-1]]
    assert store.read_accumulated("seen").count() == len(sim.seen)
    # per-partition lineage: every committed wave records rows/bytes/files
    # per bucket in its manifest, and they sum to the table's row count
    lineage = store.lineage("seen")
    assert lineage and all(
        rec["bucket"].startswith("bucket=") and rec["rows"] > 0 and rec["bytes"] > 0
        for rec in lineage
    )
    assert sum(rec["rows"] for rec in lineage) == len(sim.seen)
    # frontier is snapshot-per-wave: expiry drops superseded snapshots
    fwaves = store.committed_waves("frontier")
    removed = store.expire("frontier", keep_last=1)
    assert removed == len(fwaves) - 1
    assert store.read("frontier").count() >= 0


def test_compact_up_to_preserves_torn_state_cut(spark, tmp_path):
    """Compaction bounded by a sibling's latest wave must not fold a torn
    delta (committed past the resume cut) into an older wave."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    for w, lo in [(1, 0), (2, 10), (3, 20)]:  # wave 3 = torn (no frontier commit)
        delta = spark.range(lo, lo + 10).selectExpr(
            "id as url_hash", "concat('https://a.gov/', id) as canon_url"
        )
        store.write_delta(delta, "seen", w)
    merged = store.compact("seen", up_to=2)
    assert merged == 1
    assert store.committed_waves("seen") == [2, 3]
    # the resume cut at wave 2 still sees exactly waves 1-2's rows ...
    assert store.read_accumulated("seen", up_to=2).count() == 20
    # ... and the torn wave-3 delta remains excluded until its wave replays
    assert store.read_accumulated("seen").count() == 30


def test_engine_with_incremental_bloom(spark, graph):
    """Force the bloom path from wave 0 (use_bloom_over=1): per-wave delta
    merge must preserve exactness (no false negatives), converging to the
    simulator's seen set."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    eng = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                      config=CFG, use_bloom_over=1)
    res = eng.run(max_waves=12)
    sim = simulate_crawl(graph, CFG, max_waves=12)
    assert {r["canon_url"] for r in res.seen.collect()} == sim.seen
    assert res.scheduled_per_wave == sim.scheduled_per_wave
    assert eng._bloom is not None  # the incremental filter was engaged


def test_js_routing_fetcher(spark, graph):
    """S4: jobs with handle_javascript route through the JS fetcher; others
    through the plain fetcher. Results identical to a single fetcher (the
    sandbox JS fetcher replays the same page table)."""
    from searchgov_spider_spark.sources.fetch import RoutingFetcher

    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    # flip agency-a to a JS job
    seeds_js = seeds_df.withColumn(
        "handle_javascript", F.col("name") == "agency-a"
    )

    class TaggingFetcher(TablePageFetcher):
        def __init__(self, pages, tag):
            super().__init__(pages)
            self.tag = tag

        def fetch(self, scheduled):
            return super().fetch(scheduled).withColumn("fetcher", F.lit(self.tag))

    routing = RoutingFetcher(
        TaggingFetcher(pages_df, "plain"), TaggingFetcher(pages_df, "js")
    )
    eng = CrawlEngine(spark, seeds_js, routing, robots=robots_df, config=CFG)

    # run one wave manually through the fetch path
    frontier = eng._checkpoint(eng.initial_frontier(), "frontier", 0)
    fetched = routing.fetch(frontier.withColumn("fetch_rank", F.lit(1)))
    rows = fetched.collect()
    by_job = {}
    for r in rows:
        by_job.setdefault(r["job"], set()).add(r["fetcher"])
    assert by_job["agency-a"] == {"js"}
    for job, tags in by_job.items():
        if job != "agency-a":
            assert tags == {"plain"}

    # and the full crawl still matches the simulator (routing is invisible
    # to crawl semantics when both fetchers serve the same web)
    res = eng.run(max_waves=12)
    sim = simulate_crawl(graph, CFG, max_waves=12)
    assert {r["canon_url"] for r in res.seen.collect()} == sim.seen


# Cached wave frames may change their output partitioning
# (session.get_spark), so AQE sizes them by bytes. These two tests pin that
# the crawl's outputs do not depend on the partition count, and that a
# small wave no longer runs shuffle.partitions-wide stages.
CACHED_REPARTITION = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextlib.contextmanager
def _session_conf(spark, **conf):
    """Set runtime SQL conf for the block; restore the previous values."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.shuffle.partitions": "32", CACHED_REPARTITION: "true"},
        {"spark.sql.shuffle.partitions": "1"},
    ],
    ids=["32-partitions-coalesced", "1-partition"],
)
def test_outputs_independent_of_partitioning(spark, graph, tmp_path, conf):
    """run → stop → resume with the state store and robots gives the
    simulator's per-wave counts, seen set and document count however many
    partitions the wave's shuffles and cached frames hold."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    store = ParquetStateStore(spark, state)
    sim_stop = simulate_crawl(graph, CFG, max_waves=2)
    sim = simulate_crawl(graph, CFG, max_waves=CFG.max_waves)
    with _session_conf(spark, **conf):
        r1 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                         config=CFG, state_dir=state).run(max_waves=2)
        assert r1.scheduled_per_wave == sim_stop.scheduled_per_wave
        assert {r["canon_url"] for r in r1.seen.collect()} == sim_stop.seen
        assert store.read_accumulated("documents").count() == sim_stop.documents

        r2 = CrawlEngine.resume(spark, seeds_df, TablePageFetcher(pages_df), state,
                                robots=robots_df, config=CFG)
        assert r1.scheduled_per_wave + r2.scheduled_per_wave == sim.scheduled_per_wave
        assert {r["canon_url"] for r in r2.seen.collect()} == sim.seen
        assert store.read_accumulated("documents").count() == sim.documents


def test_small_wave_stages_fit_default_parallelism(spark, tmp_path):
    """At 32 shuffle partitions a full 120-URL politeness wave (4 domains x
    30) runs no stage wider than the session's default parallelism: the
    cached frames are coalesced, so the extraction and canonicalize Python
    stages do not run 32 tasks of ~4 rows each."""
    g = generate_graph(n_pages=600, seed=5)
    # 30 start URLs per job make the first wave the full budget
    by_domain: dict[str, list[str]] = {}
    for p in g["pages"]:
        if "/private/" not in p.url:
            by_domain.setdefault(p.domain, []).append(p.url)
    g["seeds_rows"] = [
        (row[0], row[1], ",".join(by_domain[row[1]][:30]), *row[3:]) for row in g["seeds_rows"]
    ]
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, g)
    engine = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                         config=CFG, state_dir=str(tmp_path / "state"))
    sc = spark.sparkContext
    group = "test-small-wave-shape"
    # the session's own setting of CACHED_REPARTITION is under test here
    with _session_conf(spark, **{"spark.sql.shuffle.partitions": "32"}):
        sc.setJobGroup(group, "one politeness-bounded wave")
        try:
            res = engine.run(max_waves=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert res.scheduled_per_wave == simulate_crawl(g, CFG, max_waves=1).scheduled_per_wave == [120]

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = {
        sid for jid in tracker.getJobIdsForGroup(group) for sid in tracker.getJobInfo(jid).stageIds
    }
    ran = [st for st in map(tracker.getStageInfo, sorted(stage_ids))
           if st is not None and st.numCompletedTasks > 0]
    assert ran
    # one JVM stage may be wider: the scan of the accumulated seen set, a
    # union of the empty start set (defaultParallelism empty partitions) and
    # one read-back per wave delta. Its width grows with the wave count, not
    # with shuffle.partitions; it is recognised by that exact width.
    seen_width = res.seen.rdd.getNumPartitions()
    assert seen_width < 32
    wide = [(st.numTasks, st.name) for st in ran
            if st.numTasks > sc.defaultParallelism and st.numTasks != seen_width]
    assert not wide
