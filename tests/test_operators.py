"""Operator-layer tests: filters matrix (reference test_middlewares.py
behavior table), dedup family, politeness budgets, robots evaluation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.operators import dedup, filters, politeness, robots


@pytest.fixture(scope="module")
def job_rules(spark):
    seeds = spark.createDataFrame(
        [
            # name, allowed_domains, starting_urls, allow_qs, depth, deny, prio, target
            ("plain", "example.com", "https://example.com", False, 3, None, 10, "csv"),
            ("paths", "quotes.toscrape.com/tag/,other.gov", "https://quotes.toscrape.com", False, 20, None, 20, "csv"),
            ("qs_ok", "qs.gov", "https://qs.gov", True, 3, None, 30, "csv"),
            ("deny", "deny.gov", "https://deny.gov", False, 999, ["/private/", "/tmp/"], 40, "csv"),
        ],
        "name string, allowed_domains string, starting_urls string, allow_query_string boolean, "
        "depth_limit int, deny_paths array<string>, domain_priority int, output_target string",
    )
    return filters.normalize_job_rules(seeds)


def _verdicts(spark, job_rules, rows):
    cand = spark.createDataFrame(rows, "job string, url string, depth int")
    out = filters.with_filter_verdict(cand, job_rules).select("url", "filter_reason").collect()
    return {r["url"]: r["filter_reason"] for r in out}


def test_normalize_job_rules(spark, job_rules):
    r = {row["job"]: row for row in job_rules.collect()}
    assert r["paths"]["allowed_hosts"] == ["quotes.toscrape.com", "other.gov"]
    assert r["paths"]["allowed_domain_paths"] == ["quotes.toscrape.com/tag/"]
    assert r["plain"]["allowed_domain_paths"] == []
    assert r["deny"]["depth_limit"] == 250  # clamped
    assert r["plain"]["depth_limit"] == 3


def test_offsite_matrix(spark, job_rules):
    # mirror of the reference offsite behavior table (test_middlewares.py:15-24)
    v = _verdicts(
        spark,
        job_rules,
        [
            ("plain", "https://example.com/a", 1),
            ("plain", "https://sub.example.com/a", 1),
            ("plain", "https://notexample.com/a", 1),
            ("plain", "https://example.com.evil.io/a", 1),
            ("paths", "https://quotes.toscrape.com/tag/life/", 1),
            ("paths", "https://quotes.toscrape.com/author/", 1),  # host ok but path not in allowed paths
            ("paths", "https://other.gov/anything", 1),  # matches other.gov... path list non-empty
        ],
    )
    assert v["https://example.com/a"] is None
    assert v["https://sub.example.com/a"] is None
    assert v["https://notexample.com/a"] == "offsite_domain"
    assert v["https://example.com.evil.io/a"] == "offsite_domain"
    assert v["https://quotes.toscrape.com/tag/life/"] is None
    assert v["https://quotes.toscrape.com/author/"] == "offsite_path"
    # reference semantics: non-empty allowed_domain_paths applies to ALL urls
    # of the job (should_follow AND's host and path regexes)
    assert v["https://other.gov/anything"] == "offsite_path"


def test_query_string_deny_ext_depth(spark, job_rules):
    v = _verdicts(
        spark,
        job_rules,
        [
            ("plain", "https://example.com/a?x=1", 1),
            ("qs_ok", "https://qs.gov/a?x=1", 1),
            ("deny", "https://deny.gov/private/x", 1),
            ("deny", "https://deny.gov/public/x", 1),
            ("plain", "https://example.com/file.pdf", 1),  # pdf not in FILTER_EXTENSIONS
            ("plain", "https://example.com/img.PNG", 1),
            ("plain", "https://example.com/arch.tar.gz", 1),
            ("plain", "https://example.com/deep", 4),
            ("plain", "https://example.com/ok", 3),
        ],
    )
    assert v["https://example.com/a?x=1"] == "query_string"
    assert v["https://qs.gov/a?x=1"] is None
    assert v["https://deny.gov/private/x"] == "deny_path"
    assert v["https://deny.gov/public/x"] is None
    assert v["https://example.com/file.pdf"] is None
    assert v["https://example.com/img.PNG"] == "extension"
    assert v["https://example.com/arch.tar.gz"] == "extension"
    assert v["https://example.com/deep"] == "depth"
    assert v["https://example.com/ok"] is None


# --- dedup -----------------------------------------------------------------

def test_bloom_roundtrip(spark):
    df = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    bloom = dedup.build_bloom(df, capacity=10000, fpp=0.01, n_shards=4)
    member = df.select("url_hash").toPandas()["url_hash"].to_numpy()
    assert bloom.contains(member).all()  # no false negatives
    others = spark.range(100000, 105000).select(F.xxhash64("id").alias("h")).toPandas()["h"].to_numpy()
    fp_rate = bloom.contains(others).mean()
    assert fp_rate < 0.05


def test_dedupe_against_seen_exact_and_bloom(spark):
    cand = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0), (4, "d", 0)],
        "url_hash long, canon_url string, wave int",
    )
    seen = spark.createDataFrame([(1, "a"), (3, "c")], "url_hash long, canon_url string")
    out = {r["canon_url"] for r in dedup.dedupe_against_seen(cand, seen).collect()}
    assert out == {"b", "d"}
    bloom = dedup.build_bloom(seen, capacity=100, fpp=0.01)
    out2 = {r["canon_url"] for r in dedup.dedupe_against_seen(cand, seen, bloom).collect()}
    assert out2 == {"b", "d"}
    # hash collision with different url must NOT be dropped
    cand2 = spark.createDataFrame([(1, "not-a", 0)], "url_hash long, canon_url string, wave int")
    assert dedup.dedupe_against_seen(cand2, seen, bloom).count() == 1


def test_dedupe_against_seen_broadcast_probe_equivalence(spark):
    """The hinted broadcast-probe strategy (zero shuffles of `seen`)
    must return exactly the shuffle anti-join's rows, including the
    hash-collision and bloom-false-positive cases, and must only engage
    when `seen` dominates the wave (the steady-state crawl shape)."""
    rows = [(i, f"u{i}", 0) for i in range(200)]
    cand = spark.createDataFrame(rows, "url_hash long, canon_url string, wave int")
    # seen = even hashes, plus a colliding (hash, other-url) row that
    # must not absorb candidate (7, "u7")
    seen = spark.createDataFrame(
        [(i, f"u{i}") for i in range(0, 200, 2)] + [(7, "not-u7")],
        "url_hash long, canon_url string",
    )
    bloom = dedup.build_bloom(seen, capacity=1000, fpp=0.01)
    want = {r["canon_url"] for r in dedup.dedupe_against_seen(cand, seen, bloom).collect()}
    got = {
        r["canon_url"]
        for r in dedup.dedupe_against_seen(
            cand, seen, bloom, candidates_hint_rows=200, seen_hint_rows=10**9
        ).collect()
    }
    assert got == want == {f"u{i}" for i in range(1, 200, 2)}
    # probe must NOT engage for balanced sizes (seen < 4x candidates):
    # same answer either way, asserted to pin the gate's correctness
    got_balanced = {
        r["canon_url"]
        for r in dedup.dedupe_against_seen(
            cand, seen, bloom, candidates_hint_rows=200, seen_hint_rows=101
        ).collect()
    }
    assert got_balanced == want


def test_dedupe_intra_wave_deterministic(spark):
    cand = spark.createDataFrame(
        [(7, "u", 2, 5, "late"), (7, "u", 1, 9, "early-depth"), (7, "u", 1, 3, "first")],
        "url_hash long, canon_url string, depth int, discovery_idx int, tag string",
    )
    rows = dedup.dedupe_intra_wave(cand).collect()
    assert len(rows) == 1
    assert rows[0]["tag"] == "first"  # min (depth, discovery_idx)


def test_new_urls_diff(spark):
    cur = spark.createDataFrame([("a",), ("b",), ("c",)], ["url"])
    prev = spark.createDataFrame([("a",), ("c",)], ["url"])
    assert {r["url"] for r in dedup.new_urls_diff(cur, prev).collect()} == {"b"}


# --- politeness ---------------------------------------------------------------

def test_schedule_wave_budget(spark):
    rows = [
        ("hot.gov", i, f"https://hot.gov/{i}", 100 + i, 1, i) for i in range(50)
    ] + [("cold.gov", 900 + i, f"https://cold.gov/{i}", 900 + i, 1, i) for i in range(3)]
    frontier = spark.createDataFrame(
        [(d, h, u, h2, dep, idx) for d, h, u, h2, dep, idx in rows],
        "domain string, url_hash long, url string, canon_url long, depth int, discovery_idx int",
    ).withColumn("canon_url", F.col("canon_url").cast("string")).withColumn("priority", F.lit(10))
    scheduled, deferred = politeness.schedule_wave(frontier, budget=5, salt_buckets=4)
    s = scheduled.groupBy("domain").count().collect()
    counts = {r["domain"]: r["count"] for r in s}
    assert counts == {"hot.gov": 5, "cold.gov": 3}
    assert deferred.count() == 53 - 5 - 3
    # deterministic: lowest discovery_idx rows win for hot.gov
    got = sorted(r["discovery_idx"] for r in scheduled.filter(F.col("domain") == "hot.gov").collect())
    assert got == [0, 1, 2, 3, 4]


def test_top_k_per_group_matches_plain_window(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v"), F.xxhash64("id").alias("url_hash")
    )
    out = politeness.top_k_per_group(df, ["g"], [F.col("v")], k=3)
    got = {(r["g"], r["v"]) for r in out.collect()}
    expect = {(g, v) for g in range(7) for v in sorted(range(g, 1000, 7))[:3]}
    assert got == expect


# --- robots ------------------------------------------------------------------

def test_robots(spark):
    robots_df = spark.createDataFrame(
        [
            ("a.gov", "usasearch", ["/pub/"], ["/pub/private/", "/admin/"], 2.0, []),
            ("a.gov", "*", [], ["/"], None, []),
            ("b.gov", "*", [], ["/blocked/"], None, []),
        ],
        "domain string, user_agent string, allow_prefixes array<string>, "
        "disallow_prefixes array<string>, crawl_delay double, sitemap_urls array<string>",
    )
    cand = spark.createDataFrame(
        [
            ("https://a.gov/pub/x",),      # allowed (usasearch row wins over *)
            ("https://a.gov/pub/private/x",),  # disallow longer than allow
            ("https://a.gov/admin/x",),    # disallowed
            ("https://b.gov/blocked/x",),  # disallowed via *
            ("https://b.gov/open/x",),     # allowed
            ("https://c.gov/anything",),   # no robots row -> allowed
        ],
        ["url"],
    )
    out = robots.apply_robots(cand, robots_df)
    urls = {r["url"] for r in out.collect()}
    assert urls == {"https://a.gov/pub/x", "https://b.gov/open/x", "https://c.gov/anything"}
    delays = {r["url"]: r["crawl_delay"] for r in out.collect()}
    assert delays["https://a.gov/pub/x"] == 2.0
    assert delays["https://c.gov/anything"] is None


def test_robots_rfc9309_wildcards(spark):
    """RFC 9309 pattern grammar (the semantics Scrapy's Protego applies
    for the reference's ROBOTSTXT_OBEY): '*' spans any octets including
    '/', a trailing '$' anchors the path end, other regex metachars are
    literal, and the longest (most-octets) matching rule wins with
    allow breaking ties."""
    from pyspark.sql import functions as F

    cases = [
        # (path, allow, disallow, expected_allowed)
        ("/doc/a.pdf", [], ["/*.pdf$"], False),
        ("/doc/a.pdfx", [], ["/*.pdf$"], True),        # $ anchor misses
        ("/search/about", ["/search/about$"], ["/search*"], True),
        ("/search/qq", ["/search/about$"], ["/search*"], False),
        ("/fish.php", [], ["/fish*.php"], False),
        ("/fishheads/catfish.php?p=1", [], ["/fish*.php"], False),
        ("/Fish.PHP", [], ["/fish*.php"], True),       # case-sensitive
        ("/a", [], ["/a$"], False),                    # exact end match
        ("/ab", [], ["/a$"], True),
        ("/a$b", [], ["/a$"], True),                   # trailing $ is anchor
        ("/x(1).htm", [], ["/x(1).htm$"], False),      # metachars literal
        ("/x[1].htm", [], ["/x[1].htm"], False),
        ("/p", ["/p"], ["/"], True),                   # longest octets wins
        ("/page", ["/p"], ["/page"], False),           # disallow longer
        ("/", ["/p"], ["/"], False),
    ]
    df = spark.createDataFrame(
        [(p, a, d) for p, a, d, _ in cases],
        "path string, allow array<string>, deny array<string>",
    )
    got = {
        r["path"]: r["ok"]
        for r in df.select(
            "path",
            robots.robots_allowed_col(
                F.col("path"), F.col("allow"), F.col("deny")
            ).alias("ok"),
        ).collect()
    }
    for p, _a, _d, expect in cases:
        assert got[p] is expect, (p, got[p], expect)


def test_playwright_fetcher_gate_and_abort_predicate():
    """S4 JS leg: the abort predicate matches domain_spider_js.py:11-14,
    and the fetcher fails fast on the driver when playwright is absent."""
    import importlib.util

    import pytest as _pytest

    from searchgov_spider_spark.config import FILTER_EXTENSIONS
    from searchgov_spider_spark.sources.fetch import PlaywrightFetcher, should_abort_resource

    for rt in FILTER_EXTENSIONS:
        assert should_abort_resource(rt)
    # playwright resource types NOT in the reference list pass through
    assert not should_abort_resource("document")
    assert not should_abort_resource("script")
    if importlib.util.find_spec("playwright") is None:
        with _pytest.raises(NotImplementedError):
            PlaywrightFetcher()


def test_bloom_scatter_dense_sparse_bit_identical():
    """The dense (bool scatter + packbits) and sparse (bitwise_or.at)
    branches of _add_to_bits must be bit-identical on the SAME input —
    the density threshold (1/32) is a pure speed heuristic, so a batch
    landing on either side of it cannot change the bitmap. Exercised at
    batch sizes straddling the crossover and the 64k chunk boundary."""
    import numpy as np

    from searchgov_spider_spark.operators import dedup as od

    spec = od.BloomSpec.for_capacity(200_000, 0.02, n_shards=1)
    rng = np.random.default_rng(7)
    crossover = spec.n_bits // 32 // spec.n_hashes  # rows at density 1/32
    for n in (1, crossover - 1, crossover + 1, 65_537, 200_000):
        h = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
        dense = od._empty_bits(spec)
        sparse = od._empty_bits(spec)
        for i in range(0, n, od._SCATTER_CHUNK):
            chunk = h[i : i + od._SCATTER_CHUNK]
            pos = od._positions(chunk, spec).ravel()
            d = np.zeros(spec.n_bits, dtype=bool)
            d[pos] = True
            np.bitwise_or(dense, np.packbits(d, bitorder="little"), out=dense)
            np.bitwise_or.at(sparse, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        assert (dense == sparse).all()
        # and the production kernel (whichever branch it picks) matches both
        prod = od._empty_bits(spec)
        od._add_to_bits(prod, h, spec)
        assert (prod == dense).all()


def test_delta_bloom_driver_path_equivalent(spark):
    """The distributed partial-bitmap build, build_delta_bloom's
    driver-side small path and the build from pre-collected hashes
    (bench.py's wave) must produce the same bitmaps, bit for bit, with
    one shard and with several."""
    from pyspark.sql import functions as F

    from searchgov_spider_spark.operators.dedup import (
        BloomSpec, build_bloom, build_bloom_from_hashes, build_delta_bloom,
    )

    df = spark.range(5000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    h = df.toPandas()["url_hash"].to_numpy()
    for n_shards in (1, 4):
        spec = BloomSpec.for_capacity(100_000, 0.01, n_shards=n_shards)
        blooms = [
            build_bloom(df, spec=spec),
            build_delta_bloom(df, spec, n_rows=len(h)),
            build_bloom_from_hashes(h, spec),
        ]
        assert all(blooms[0].shards[s].any() for s in range(n_shards))
        for b in blooms:
            assert b.spec == spec
            assert sorted(b.shards) == list(range(n_shards))
            for s in range(n_shards):
                assert (b.shards[s] == blooms[0].shards[s]).all(), (n_shards, s)


def test_drain_report_ceil_div_and_eta(spark):
    from searchgov_spider_spark.operators.politeness import drain_report

    rows = [("a.gov", d) for d in [0, 1, 2, 2, 3]] + [("b.gov", 1)]
    frontier = spark.createDataFrame(rows, "domain string, depth long")
    out = {r["domain"]: r for r in drain_report(frontier, budget=2).collect()}
    a = out["a.gov"]
    assert (a["pending"], a["min_depth"], a["max_depth"]) == (5, 0, 3)
    assert a["waves_to_drain"] == 3  # ceil(5/2)
    assert a["eta_seconds"] == 5  # 1 req/s politeness
    b = out["b.gov"]
    assert (b["pending"], b["waves_to_drain"], b["eta_seconds"]) == (1, 1, 1)


def test_politeness_audit_gaps_and_violations(spark):
    import datetime as dt

    from searchgov_spider_spark.operators.politeness import politeness_audit

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    ms = dt.timedelta(milliseconds=1)
    rows = [
        ("a.gov", "u1", t0),
        ("a.gov", "u2", t0 + 400 * ms),    # gap 400ms -> violation
        ("a.gov", "u3", t0 + 1500 * ms),   # gap 1100ms -> ok
        ("b.gov", "u9", t0),               # single fetch: no gap
    ]
    df = spark.createDataFrame(rows, "domain string, url string, ts timestamp")
    got = {r.domain: r for r in politeness_audit(df, delay_ms=1000).collect()}
    a = got["a.gov"]
    assert (a.n_fetches, a.min_gap_ms, a.violations) == (3, 400, 1)
    b = got["b.gov"]
    assert (b.n_fetches, b.min_gap_ms, b.violations) == (1, None, 0)


def test_parse_robots_txt_golden(spark):
    """RFC 9309 file parsing: comments stripped, orphan rules before any
    group ignored, consecutive UA lines share a group, same-UA groups
    merge across the file, empty Disallow is no rule, junk Crawl-delay
    ignored, Sitemap lines are file-scoped."""
    txt = "\n".join([
        "# gsa robots",
        "Disallow: /orphan",               # before any group -> ignored
        "User-agent: usasearch",
        "Allow: /pub/",
        "Disallow: /private/",
        "Crawl-delay: 2",
        "noise line without a known key",
        "User-agent: googlebot",           # two UAs share one group
        "User-agent: bingbot",
        "Disallow: /search*",
        "Disallow:",                       # empty value -> no rule
        "Allow: /search/about$",
        "",
        "User-agent: usasearch",           # same UA again -> merge
        "Disallow: /tmp/",
        "Crawl-delay: 5",
        "",
        "Sitemap: https://a.gov/sitemap.xml",
        "Sitemap: https://a.gov/sitemap2.xml",
    ])
    df = spark.createDataFrame(
        [
            ("a.gov", txt),
            ("b.gov", "Disallow: /orphan\nUser-agent: *\nDisallow: /x\nCrawl-delay: junk"),
        ],
        "domain string, robots_txt string",
    )
    out = {
        (r["domain"], r["user_agent"]): r
        for r in robots.parse_robots_txt(df).collect()
    }
    a_usa = out[("a.gov", "usasearch")]
    assert a_usa["allow_prefixes"] == ["/pub/"]
    assert a_usa["disallow_prefixes"] == ["/private/", "/tmp/"]  # merged
    assert a_usa["crawl_delay"] == 2.0  # min across merged groups
    assert a_usa["sitemap_urls"] == [
        "https://a.gov/sitemap.xml", "https://a.gov/sitemap2.xml"
    ]
    for ua in ("googlebot", "bingbot"):
        g = out[("a.gov", ua)]
        assert g["allow_prefixes"] == ["/search/about$"]
        assert g["disallow_prefixes"] == ["/search*"]  # empty Disallow dropped
        assert g["crawl_delay"] is None
    b = out[("b.gov", "*")]
    assert b["disallow_prefixes"] == ["/x"]  # /orphan ignored
    assert b["crawl_delay"] is None  # junk value
    assert b["sitemap_urls"] == []
    assert set(out) == {
        ("a.gov", "usasearch"), ("a.gov", "googlebot"), ("a.gov", "bingbot"),
        ("b.gov", "*"),
    }


def test_parse_robots_txt_feeds_apply_robots(spark):
    """The parsed table drives enforcement end-to-end: raw robots.txt ->
    parse_robots_txt -> apply_robots, wildcards included."""
    txt = "\n".join([
        "User-agent: usasearch",
        "Allow: /pub/",
        "Disallow: /pub/private/",
        "Disallow: /*.pdf$",
        "Crawl-delay: 1.5",
    ])
    rules = robots.parse_robots_txt(
        spark.createDataFrame([("a.gov", txt)], "domain string, robots_txt string")
    )
    cand = spark.createDataFrame(
        [
            ("https://a.gov/pub/x",),          # allowed
            ("https://a.gov/pub/private/x",),  # longest disallow wins
            ("https://a.gov/pub/doc.pdf",),    # wildcard disallow
            ("https://a.gov/other",),          # no rule matches -> allowed
        ],
        ["url"],
    )
    out = {r["url"]: r for r in robots.apply_robots(cand, rules).collect()}
    assert set(out) == {"https://a.gov/pub/x", "https://a.gov/other"}
    assert out["https://a.gov/pub/x"]["crawl_delay"] == 1.5
