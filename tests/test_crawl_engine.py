"""End-to-end crawl engine tests against the pure-Python oracle — the analog
of the reference's golden-count cached-crawl tests (test_full_crawl.py).

The oracle (testing/graph.simulate_crawl) independently reimplements the
crawl semantics sequentially; the Spark engine must reproduce its exact
seen-set, emitted-URL set, per-wave scheduled counts and crawl ordering."""

from __future__ import annotations

import contextlib
import dataclasses
import re
from functools import partial

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.config import CrawlConfig
from searchgov_spider_spark.functions.urls import url_hash_col, url_host_col
from searchgov_spider_spark.plans.crawl import BLOOM_OVER_ROWS, CrawlEngine, _seen_files, expire_seen
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
def crawl_outputs(spark, graph, tmp_path_factory):
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    engine = CrawlEngine(
        spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path_factory.mktemp("crawl") / "state"),
        robots=robots_df, config=CFG,
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


def test_robots_rules_follow_config_user_agent(spark, graph, tmp_path):
    """Robots groups are picked for ``CrawlConfig.user_agent``: crawling as
    ``otherbot`` never schedules a path that ``*`` allows but otherbot's
    group disallows, and the simulator, reading the same setting, agrees
    wave by wave."""
    g = {**graph, "robots_rows": [
        ("hot.example.gov", "*", [], [], 1.0, []),
        ("hot.example.gov", "otherbot", [], ["/private/"], 1.0, []),
    ]}
    # under the default agent the `*` group lets the crawl reach /private/
    assert any("/private/" in u for u in simulate_crawl(g, CFG, max_waves=3).seen)
    cfg = CrawlConfig(wave_seconds=30.0, salt_buckets=4, user_agent="otherbot")
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, g)
    res = CrawlEngine(
        spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state"), robots=robots_df, config=cfg
    ).run(max_waves=3)
    sim = simulate_crawl(g, cfg, max_waves=3)
    seen = {r["canon_url"] for r in res.seen.collect()}
    assert not any("/private/" in u for u in seen)
    assert seen == sim.seen
    assert res.scheduled_per_wave == sim.scheduled_per_wave


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
    the same seen-set (P4 semantics: wave checkpoints + idempotent dedup).
    The state is injected with ``run_from`` into a new state dir, where it
    becomes commit 0."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    e1 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                     config=CFG, state_dir=state)
    r1 = e1.run(max_waves=2)
    # resume: rebuild engine, reload the frontier before wave 2 and the
    # seen set after 2 waves (seen is stored incrementally — one delta per wave)
    from searchgov_spider_spark.sources.state import ParquetStateStore

    store = ParquetStateStore(spark, state)
    frontier = store.read("frontier", 2)
    seen = store.read_accumulated("seen", up_to=2).select("url_hash", "canon_url")
    e2 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state2"),
                     robots=robots_df, config=CFG)
    r2 = e2.run_from(frontier, seen, max_waves=10)
    sim = simulate_crawl(graph, CFG, max_waves=12)
    resumed_seen = {r["canon_url"] for r in r2.seen.collect()}
    assert resumed_seen == sim.seen
    assert [w.scheduled for w in r1.waves] + [w.scheduled for w in r2.waves] == sim.scheduled_per_wave


def test_resume_classmethod_and_state_store(spark, graph, tmp_path):
    """CrawlEngine.resume picks up from the newest commit via
    ParquetStateStore, which holds one commit record per wave; compaction
    and snapshot expiry keep the committed content."""
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
    # D4 emit dedup: each canonical URL is scheduled once (D1), so no
    # document is emitted twice across run + resume, not even a page that
    # several parents link under two raw spellings (plain and #fragment)
    from searchgov_spider_spark.functions.urls import canonicalize_url

    docs = store.read_accumulated("documents").select("doc_id", "url").collect()
    canon = [canonicalize_url(r["url"]) for r in docs]
    assert len(docs) == sim.documents
    assert len({r["doc_id"] for r in docs}) == len(docs)
    assert len(set(canon)) == len(docs)
    links: dict[str, set] = {}
    for p in graph["pages"]:
        for link in p.out_links:
            links.setdefault(canonicalize_url(link), set()).add((p.url, link))
    assert any(
        len({raw for _, raw in links.get(c, ())}) >= 2 and len({src for src, _ in links[c]}) >= 2
        for c in canon
    )

    # one commit record per wave (commit 0 holds the initial frontier),
    # each holding its wave's metrics, and no per-table manifests
    n = len(r1.waves) + len(r2.waves)
    root = tmp_path / "state"
    assert sorted(p.name for p in (root / "commits").iterdir()) == sorted(
        f"wave={c}.json" for c in range(n + 1)
    )
    assert not (root / "manifests").exists()
    assert [store.record(c)["metrics"]["scheduled"] for c in range(1, n + 1)] == sim.scheduled_per_wave
    # per-wave lineage: the newest record names every seen delta with its
    # footer rows and bytes, and they sum to the table's row count
    files = store.record()["tables"]["seen"]["files"]
    assert sorted({f["wave"] for f in files}) == list(range(1, n + 1))
    assert all(f["rows"] > 0 and f["bytes"] > 0 for f in files)
    assert sum(f["rows"] for f in files) == store.rows("seen") == len(sim.seen)
    # seen is delta-per-wave: compaction merges a small table's deltas into
    # one file without data loss
    assert store.compact("seen") == len(files)
    assert len(store.record()["tables"]["seen"]["files"]) == 1
    assert store.read_accumulated("seen").count() == len(sim.seen)
    # expiry drops superseded records and every file only they named
    assert store.expire(keep_last=1) == n
    named = {f["path"] for t in store.record()["tables"].values() for f in t["files"]}
    assert {p.relative_to(root).as_posix() for p in root.glob("*/*/*.parquet")} == named
    assert store.read_accumulated("seen").count() == len(sim.seen)
    assert store.read("frontier").count() == 0


def test_run_refuses_a_state_dir_that_holds_a_crawl(spark, graph, tmp_path):
    """``run`` starts a crawl at commit 0, so a state dir that already
    holds one is refused by name and left as it was; ``resume`` is how
    that crawl continues."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = tmp_path / "state"

    def engine():
        return CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), str(state),
                           robots=robots_df, config=CFG)

    engine().run(max_waves=2)
    before = sorted(p.relative_to(state).as_posix() for p in state.rglob("*"))
    with pytest.raises(ValueError, match=re.escape(f"{state} already holds a crawl")):
        engine().run(max_waves=1)
    assert sorted(p.relative_to(state).as_posix() for p in state.rglob("*")) == before
    assert ParquetStateStore(spark, str(state)).newest() == 2


def test_a_bound_of_zero_runs_no_wave(spark, tmp_path):
    """``max_waves`` bounds the wave number, so 0 stops before wave 0: no
    wave runs, and the store holds only commit 0, the initial frontier."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, generate_graph(n_pages=60, seed=3))
    state = tmp_path / "state"
    engine = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), str(state), robots=robots_df)
    result = engine.run(max_waves=0)
    assert result.waves == []
    assert [p.name for p in (state / "commits").iterdir()] == ["wave=0.json"]
    assert result.frontier.count() == engine.initial_frontier().count() > 0


def test_seen_check_reads_two_relations_in_any_wave(spark, graph, tmp_path, monkeypatch):
    """The seen set a wave checks its candidates against is the last
    commit's files, read as one relation, plus the wave's own delta: in
    the last wave of a five-wave crawl its plan scans two relations, not
    one per wave."""
    import searchgov_spider_spark.plans.crawl as crawl

    seen_frames = []

    def capturing(candidates, seen, *args, **kwargs):
        seen_frames.append(seen)
        return dedupe(candidates, seen, *args, **kwargs)

    dedupe = crawl.dedupe_against_seen
    monkeypatch.setattr(crawl, "dedupe_against_seen", capturing)
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    res = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state"),
                      robots=robots_df, config=CFG).run(max_waves=12)
    assert len(res.waves) == len(seen_frames) >= 5
    last = seen_frames[-1]
    assert last._jdf.queryExecution().executedPlan().toString().count("FileScan parquet") <= 2
    assert {r["canon_url"] for r in last.collect()} == {r["canon_url"] for r in res.seen.collect()}


def _run_in_job_group(spark, group, fn):
    """Run ``fn()`` under a fresh Spark job group; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_state_delta_is_one_file_read_with_committed_schema(spark, tmp_path):
    """A small wave delta is written as one parquet file by one Spark job,
    and reading state back runs no Spark job: the committed schema is
    passed, so nothing infers it from footers. Rows and schema round-trip,
    the empty wave included."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    root = tmp_path / "state"
    store = ParquetStateStore(spark, str(root))

    def delta(lo, n):
        # like the engine's seen delta: a cached, AQE-sized shuffle output
        df = (
            spark.range(lo, lo + n)
            .selectExpr("id as url_hash", "concat('https://a.gov/', id) as canon_url")
            .repartition("url_hash")
            .cache()
        )
        df.count()
        return df

    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), "url_hash long, canon_url string")
    store.commit(0)
    for wave, df in [(1, delta(0, 120)), (2, delta(1000, 40)), (3, empty)]:
        (back, rows), jobs = _run_in_job_group(
            spark, f"test-state-write-{wave}", partial(store.write_delta, df, "seen", wave)
        )
        store.commit(wave)
        assert len(jobs) == 1
        assert [(f.name, f.dataType) for f in back.schema] == [
            (f.name, f.dataType) for f in df.schema
        ]
        assert sorted(back.collect()) == sorted(df.collect())
        assert rows == df.count()
        # the empty delta too: its one file carries the schema
        assert len(list((root / "seen").glob(f"{wave}-*/*.parquet"))) == 1

    read, jobs = _run_in_job_group(spark, "test-state-read", partial(store.read, "seen", 3))
    assert not jobs
    assert read.columns == ["url_hash", "canon_url"] and read.count() == 0
    acc, jobs = _run_in_job_group(
        spark, "test-state-read-accumulated", partial(store.read_accumulated, "seen")
    )
    assert not jobs
    assert acc.columns == ["url_hash", "canon_url"]
    assert sorted(r.url_hash for r in acc.collect()) == list(range(120)) + list(range(1000, 1040))
    assert [(f["wave"], f["rows"]) for f in store.record()["tables"]["seen"]["files"]] == [
        (1, 120), (2, 40), (3, 0)
    ]


def test_uncommitted_writes_are_ignored_and_expired(spark, tmp_path):
    """A write whose commit never landed and a temp record left by a crash
    mid-commit are invisible: the newest commit and every read ignore
    them, and ``expire`` removes both."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    root = tmp_path / "state"
    store = ParquetStateStore(spark, str(root))

    def delta(lo):
        return spark.range(lo, lo + 10).selectExpr(
            "id as url_hash", "concat('https://a.gov/', id) as canon_url"
        )

    store.commit(0)
    for wave in (1, 2):
        store.write_delta(delta(10 * wave), "seen", wave)
        store.commit(wave)
    # killed in commit 3: its write landed, its record only as a temp file
    store.write_delta(delta(30), "seen", 3)
    (root / "commits" / "wave=3.json.tmp").write_text('{"layout": 1, "wave": 3, "tab')

    reopened = ParquetStateStore(spark, str(root))
    assert reopened.newest() == 2
    assert reopened.rows("seen") == 20
    assert sorted(r.url_hash for r in reopened.read_accumulated("seen").collect()) == list(range(10, 30))
    assert reopened.expire(keep_last=1) == 2
    assert sorted(p.name for p in (root / "commits").iterdir()) == ["wave=2.json"]
    assert sorted(p.name.split("-")[0] for p in (root / "seen").iterdir()) == ["1", "2"]
    assert sorted(r.url_hash for r in reopened.read_accumulated("seen").collect()) == list(range(10, 30))


SYNTHETIC = "https://synthetic.invalid/"


def _synthetic_seen(spark):
    """More than BLOOM_OVER_ROWS fingerprints of URLs outside the test web:
    committed as seen, they engage the engine's bloom without changing
    what the crawl schedules."""
    return spark.range(BLOOM_OVER_ROWS + 1).select(
        F.concat(F.lit(SYNTHETIC), F.col("id").cast("string")).alias("canon_url")
    ).withColumn("url_hash", url_hash_col("canon_url"))


def test_engine_with_incremental_bloom(spark, graph, tmp_path):
    """The bloom path, engaged from wave 0 by synthetic seen rows: per-wave
    delta merges, and the rebuild a resume makes, keep the exact check
    exact (no false negatives), converging to the simulator's crawl."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    eng = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), state, robots=robots_df, config=CFG)
    first = eng.run_from(eng.initial_frontier(), seen=_synthetic_seen(spark), max_waves=4)
    assert eng._bloom is not None  # the incremental filter was engaged ...
    assert eng._bloom_files == _seen_files(eng.store.record())  # ... and mirrors the last commit
    res = CrawlEngine.resume(
        spark, seeds_df, TablePageFetcher(pages_df), state, robots=robots_df, config=CFG, max_waves=12
    )
    sim = simulate_crawl(graph, CFG, max_waves=12)
    web_seen = res.seen.filter(~F.col("canon_url").startswith(SYNTHETIC))
    assert {r["canon_url"] for r in web_seen.collect()} == sim.seen
    assert res.seen.count() == BLOOM_OVER_ROWS + 1 + len(sim.seen)
    assert first.scheduled_per_wave + res.scheduled_per_wave == sim.scheduled_per_wave


def test_injected_seen_rebuilds_the_filter(spark, graph, tmp_path):
    """The filter holds the committed seen files it was built from. After
    ``run_from`` commits another seen set, the next wave rebuilds it
    rather than merging just its delta into a filter that lacks the
    injected rows, so no URL of the injected seen set is scheduled again."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    eng = CrawlEngine(
        spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state"), robots=robots_df, config=CFG
    )
    synthetic = _synthetic_seen(spark)
    crawled = eng.run_from(eng.initial_frontier(), seen=synthetic, max_waves=2).seen
    assert eng._bloom is not None
    # seen := the synthetic rows plus every other page of the web; pending
    # := five pages outside that set that the first two waves never reached
    canon = [p.canon_url for p in graph["pages"]]
    injected = set(canon[::2])
    reached = {r["canon_url"] for r in crawled.collect()}
    seen = synthetic.unionByName(
        spark.createDataFrame([(u,) for u in sorted(injected)], "canon_url string")
        .withColumn("url_hash", url_hash_col("canon_url"))
    )
    hosts = eng.rules.select("job", F.explode("allowed_hosts").alias("domain"))
    frontier = eng._prepare_candidates(
        spark.createDataFrame([(u,) for u in sorted(set(canon[1::2]) - injected - reached)], "url string")
        .withColumn("domain", url_host_col("url"))
        .join(hosts, "domain")
        .select("job", "url", F.lit(0).alias("depth"), F.lit(0).cast("long").alias("discovery_idx"))
    ).orderBy("canon_url").limit(5)
    c = eng.store.newest() + 1
    rerun = eng.run_from(frontier, seen=seen, max_waves=c + 4)
    assert rerun.scheduled_per_wave[0] == 5
    rescheduled = rerun.seen.groupBy("canon_url").count().filter("count > 1")
    assert rescheduled.count() == 0
    assert rerun.seen.count() == BLOOM_OVER_ROWS + 1 + len(injected) + rerun.total_scheduled


def test_expire_seen_keeps_hash_colliding_urls(spark):
    """expire_seen matches on (url_hash, canon_url): a distinct URL whose
    hash collides with an expired one stays seen."""
    schema = "url_hash long, canon_url string"
    seen = spark.createDataFrame([(1, "a"), (1, "b")], schema)
    expired = spark.createDataFrame([(1, "a")], schema)
    assert [tuple(r) for r in expire_seen(seen, expired).collect()] == [(1, "b")]


def test_js_routing_fetcher(spark, graph, tmp_path):
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
    eng = CrawlEngine(spark, seeds_js, routing, str(tmp_path / "state"), robots=robots_df, config=CFG)

    # run one wave manually through the fetch path
    fetched = routing.fetch(eng.initial_frontier().withColumn("fetch_rank", F.lit(1)))
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
    # the session's own setting of CACHED_REPARTITION is under test here
    with _session_conf(spark, **{"spark.sql.shuffle.partitions": "32"}):
        res, job_ids = _run_in_job_group(
            spark, "test-small-wave-shape", partial(engine.run, max_waves=1)
        )
    assert res.scheduled_per_wave == simulate_crawl(g, CFG, max_waves=1).scheduled_per_wave == [120]

    tracker = sc.statusTracker()
    stage_ids = {sid for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds}
    ran = [st for st in map(tracker.getStageInfo, sorted(stage_ids))
           if st is not None and st.numCompletedTasks > 0]
    assert ran
    wide = [(st.numTasks, st.name) for st in ran if st.numTasks > sc.defaultParallelism]
    assert not wide


# Per-wave candidates of the test web's crawl, as the engine counted them
# with a dedicated count() before the count rode on the frontier write.
CANDIDATES_PER_WAVE = [16, 63, 136, 12, 1]


def _sans_seconds(waves):
    return [dataclasses.replace(w, seconds=0.0) for w in waves]


def test_wave_metrics_match_committed_state(spark, graph, tmp_path, crawl_outputs):
    """Every count a wave reports rides on an action it already runs
    (footer rows of its writes, observations on their plans), and each
    matches what was committed: over run + resume, a wave's scheduled
    count is its seen delta's rows and the simulator's count, its fetched
    rows split into ok and errors, its emitted count is its documents
    delta's rows and its new URLs are the next frontier's rows. The
    uninterrupted run reports identical metrics."""
    from searchgov_spider_spark.sources.state import ParquetStateStore

    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    r1 = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                     config=CFG, state_dir=state).run(max_waves=2)
    r2 = CrawlEngine.resume(spark, seeds_df, TablePageFetcher(pages_df), state,
                            robots=robots_df, config=dataclasses.replace(CFG, max_waves=12))
    waves = r1.waves + r2.waves
    sim = simulate_crawl(graph, CFG, max_waves=12)
    store = ParquetStateStore(spark, state)

    assert [w.scheduled for w in waves] == sim.scheduled_per_wave
    assert sum(w.fetched_ok for w in waves) == sim.fetched_ok
    assert [w.candidates for w in waves] == CANDIDATES_PER_WAVE
    for w in waves:
        assert w.scheduled == store.read("seen", w.wave + 1).count()
        assert w.fetched_ok + w.http_errors == w.scheduled
        assert w.emitted == store.read("documents", w.wave + 1).count()
        assert w.new_urls == store.read("frontier", w.wave + 1).count()
    assert waves[-1].new_urls == 0  # the crawl ran to its end

    uninterrupted, _ = crawl_outputs
    assert _sans_seconds(uninterrupted.waves) == _sans_seconds(waves)


def test_wave_without_parseable_pages_completes(spark, tmp_path):
    """A wave whose fetches yield no page to parse (a 404 and a non-HTML
    body) ends the crawl with zero candidates: no observation the wave
    reads is left waiting on a plan that never ran."""
    from searchgov_spider_spark.testing.graph import PAGES_SCHEMA, SEEDS_SCHEMA

    pages = spark.createDataFrame(
        [("https://a.gov/data", "a.gov", 200, "text/plain", None, [], [], b"x",
          "https://a.gov/data")],
        PAGES_SCHEMA,
    )
    seeds = spark.createDataFrame(
        [("a", "a.gov", "https://a.gov/missing,https://a.gov/data", False, False, "csv", 3,
          None, 1)],
        SEEDS_SCHEMA,
    )
    engine = CrawlEngine(spark, seeds, TablePageFetcher(pages), str(tmp_path / "state"), config=CFG)
    res = engine.run(max_waves=3)
    assert [(w.scheduled, w.fetched_ok, w.http_errors, w.candidates, w.new_urls)
            for w in res.waves] == [(2, 1, 1, 0, 0)]


def test_warm_wave_compiles_little_and_runs_few_jobs(spark, graph, tmp_path):
    """A wave after the first in the process reuses the generated classes
    of the waves before it (the session's codegen cache holds a wave) and
    runs few Spark jobs: its three state writes are its only actions, and
    nothing is re-derived per wave that the engine could build once. Wave
    2 of the test web,
    with the state store on, is measured as the difference between
    resuming at wave 2 for one wave and for none, so the engine's set-up
    cancels out."""
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    state = str(tmp_path / "state")
    CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), robots=robots_df,
                config=CFG, state_dir=state).run(max_waves=2)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def resume(max_waves):
        before = compiled.getCount()
        res, jobs = _run_in_job_group(
            spark, f"test-warm-wave-{max_waves}",
            partial(CrawlEngine.resume, spark, seeds_df, TablePageFetcher(pages_df), state,
                    robots=robots_df, config=dataclasses.replace(CFG, max_waves=max_waves)),
        )
        return [w.wave for w in res.waves], len(jobs), compiled.getCount() - before

    none, jobs0, compiles0 = resume(2)
    one, jobs1, compiles1 = resume(3)
    assert (none, one) == ([], [2])
    assert compiles1 - compiles0 < 40
    assert jobs1 - jobs0 <= 20
