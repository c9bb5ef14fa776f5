"""Tests for sitemap operators (S5/S6/D5/A4), summarizer (A2), sinks
(O1-O5) and batch accounting (A3)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.functions.summarize import summarize_text, with_summary
from searchgov_spider_spark.operators.sitemap import (
    discover_sitemaps,
    parse_sitemap_xml,
    resolve_sitemaps,
    sitemap_new_urls,
    sitemap_report,
)
from searchgov_spider_spark.sources import sinks


def urlset(*urls):
    body = "".join(f"<url><loc>{u}</loc></url>" for u in urls)
    return f'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{body}</urlset>'


def smindex(*locs):
    body = "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in locs)
    return f'<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{body}</sitemapindex>'


class TestParseSitemapXml:
    def test_urlset(self):
        kind, locs = parse_sitemap_xml(urlset("https://a.gov/1", " https://a.gov/2 "))
        assert kind == "urlset"
        assert locs == ["https://a.gov/1", "https://a.gov/2"]

    def test_index_heuristic(self):
        kind, locs = parse_sitemap_xml(
            smindex("https://a.gov/SM1.XML", "https://a.gov/other-sitemap", "https://a.gov/not-a-map")
        )
        assert kind == "sitemapindex"
        # lowercased; non-xml non-'sitemap' locs skipped (sitemap_monitor.py:196-204)
        assert locs == ["https://a.gov/sm1.xml", "https://a.gov/other-sitemap"]

    def test_invalid(self):
        assert parse_sitemap_xml(b"not xml")[0] == "invalid"
        assert parse_sitemap_xml(None)[0] == "invalid"
        assert parse_sitemap_xml("<rss></rss>")[0] == "invalid"


class TestResolveSitemaps:
    def test_nested_and_cycle(self, spark):
        web_rows = [
            ("https://a.gov/sitemap.xml", 200, smindex(
                "https://a.gov/sm-a.xml", "https://a.gov/sm-b.xml", "https://a.gov/sitemap.xml")),
            ("https://a.gov/sm-a.xml", 200, urlset("https://a.gov/p1", "https://a.gov/p2")),
            ("https://a.gov/sm-b.xml", 200, urlset("https://a.gov/p2", "https://a.gov/p3")),
            ("https://b.gov/sitemap.xml", 404, urlset("https://b.gov/hidden")),
        ]
        web = spark.createDataFrame(
            [(u, s, b.encode()) for u, s, b in web_rows], "url string, http_status int, body binary"
        )
        seeds = spark.createDataFrame(
            [("https://a.gov/sitemap.xml",), ("https://b.gov/sitemap.xml",)], "sitemap_url string"
        )
        out = resolve_sitemaps(seeds, web)
        rows = {(r["sitemap_url"], r["url"]) for r in out.collect()}
        assert rows == {
            ("https://a.gov/sitemap.xml", "https://a.gov/p1"),
            ("https://a.gov/sitemap.xml", "https://a.gov/p2"),
            ("https://a.gov/sitemap.xml", "https://a.gov/p3"),
        }  # 404 root contributes nothing; self-reference cycle terminates


class TestDiscoverSitemaps:
    def test_cascade_order(self, spark):
        web_rows = [
            # domain with a common-location hit AND robots hit -> method 1 wins
            ("https://one.gov/sitemap.xml", 200, ""),
            ("https://one.gov/robots.txt", 200, "Sitemap: https://one.gov/from-robots.xml"),
            # domain with only robots.txt directive
            ("https://two.gov/robots.txt", 200, "User-agent: *\nSitemap: https://two.gov/sm.xml"),
            # domain with only an HTML <link rel="sitemap">
            ("https://three.gov/", 200, '<html><link rel="sitemap" href="https://three.gov/map.xml"></html>'),
            # domain with only a root-dir sitemap-ish xml
            ("https://four.gov/wp-sitemap-2.xml", 200, ""),
        ]
        web = spark.createDataFrame(
            [(u, s, b.encode()) for u, s, b in web_rows], "url string, http_status int, body binary"
        )
        domains = spark.createDataFrame(
            [("one.gov",), ("two.gov",), ("three.gov",), ("four.gov",), ("five.gov",)], "domain string"
        )
        got = {r["domain"]: (r["sitemap_url"], r["method"]) for r in discover_sitemaps(domains, web).collect()}
        assert got["one.gov"] == ("https://one.gov/sitemap.xml", "common_location")
        assert got["two.gov"] == ("https://two.gov/sm.xml", "robots_txt")
        assert got["three.gov"] == ("https://three.gov/map.xml", "html_link")
        assert got["four.gov"] == ("https://four.gov/wp-sitemap-2.xml", "root_listing")
        assert "five.gov" not in got


class TestSitemapDiff:
    def test_new_and_report(self, spark):
        cur = spark.createDataFrame(
            [("sm", "a"), ("sm", "b"), ("sm", "c")], "sitemap_url string, url string"
        )
        prev = spark.createDataFrame([("sm", "a")], "sitemap_url string, url string")
        new = {r["url"] for r in sitemap_new_urls(cur, prev).collect()}
        assert new == {"b", "c"}
        rep = sitemap_report(cur, prev).collect()[0]
        assert (rep["new_urls"], rep["total_urls"]) == (2, 3)


class TestSummarize:
    TEXT = (
        "Spark engines shuffle data across executors. Shuffle costs dominate joins. "
        "The optimizer prunes columns early. Executors spill when memory is tight."
    )

    def test_kernel_behavior(self):
        summary, keywords = summarize_text(self.TEXT, "en")
        assert summary is not None and keywords is not None
        # 'shuffle' appears twice -> first keyword
        assert keywords.split(", ")[0] == "shuffle"
        # top-3 of 4 sentences: lowest-scoring sentence excluded
        assert len(summary.split(". ")) <= 4 and "Spark engines" in summary

    def test_kernel_edge_cases(self):
        assert summarize_text(None) == (None, None)
        assert summarize_text("") == (None, None)
        assert summarize_text("hello world", "xx") == (None, None)

    def test_udf_matches_kernel(self, spark):
        df = spark.createDataFrame(
            [(0, self.TEXT, "en"), (1, "Uno dos tres. Uno otra vez.", "es"), (2, "text", "xx")],
            "doc_id long, text string, lang string",
        )
        rows = {r["doc_id"]: r for r in with_summary(df, "text", "lang").collect()}
        for doc_id, text, lang in [(0, self.TEXT, "en"), (1, "Uno dos tres. Uno otra vez.", "es"), (2, "text", "xx")]:
            s, k = summarize_text(text, lang)
            assert rows[doc_id]["summary"] == s
            assert rows[doc_id]["keywords"] == k


class TestBatchAccounting:
    def test_flush_after_semantics(self, spark):
        urls = [f"u{i:03d}" for i in range(10)]  # 4 bytes each
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {r["url"]: r["batch_id"] for r in sinks.with_batch_ids(df, max_bytes=10).collect()}
        # running-before bytes: 0,4,8,12,... -> batches of ceil(10/4)=3 rows: 0,0,0,1,1,...
        cum = 0
        for u in urls:
            assert got[u] == cum // 10
            cum += len(u)

    def test_global_running_sum_two_phase_exact(self, spark):
        """The range-partitioned two-phase prefix sum (operators/prefix)
        equals a plain Python cumsum over the total order, across many
        input partitions."""
        from pyspark.sql import functions as F

        from searchgov_spider_spark.operators.prefix import global_running_sum

        n = 5000
        df = spark.range(n).repartition(16).select(
            F.col("id").alias("k"), ((F.col("id") * 7) % 101 + 1).alias("v")
        )
        got = {
            r["k"]: r["run"]
            for r in global_running_sum(df, ["k"], F.col("v"), "run").collect()
        }
        cum = 0
        for k in range(n):
            cum += (k * 7) % 101 + 1
            assert got[k] == cum

    def test_payload_assembly(self, spark):
        df = spark.createDataFrame([(f"https://x.gov/{i}",) for i in range(50)], "url string")
        out = sinks.assemble_endpoint_payloads(df, max_bytes=200).collect()
        total = sum(r["n_urls"] for r in out)
        assert total == 50
        for r in out:
            payload = json.loads(r["payload"])
            assert len(payload["urls"]) == r["n_urls"]

    def test_post_raises_without_requests(self, spark):
        df = spark.createDataFrame([("https://x.gov/1",)], "url string")
        payloads = sinks.assemble_endpoint_payloads(df)
        try:
            import requests  # noqa: F401
            pytest.skip("requests present; POST path not stubbed here")
        except ImportError:
            pass
        with pytest.raises(Exception):
            sinks.post_endpoint_batches(payloads, "https://api.example.gov/urls")


class TestFileSinks:
    def test_csv_rotation(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"https://site.gov/page/{i:05d}",) for i in range(1000)], "url string"
        ).coalesce(1)
        path = str(tmp_path / "csv")
        sinks.write_urls_csv(df, path, rotate_bytes=5000)
        files = glob.glob(path + "/part-*")
        assert len(files) > 1  # rotated
        sizes = [os.path.getsize(f) for f in files]
        assert max(sizes) <= 5000 * 1.5
        lines = sum(1 for f in files for _ in open(f))
        assert lines == 1000

    def test_write_documents_buckets(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"https://a.gov/{i}", 0, f"t{i}") for i in range(100)], "url string, wave int, title string"
        )
        path = str(tmp_path / "docs")
        sinks.write_documents(df, path, n_buckets=8)
        back = spark.read.parquet(path)
        assert back.count() == 100
        assert "doc_id" in back.columns
        assert back.select("bucket").distinct().count() > 1
        one = back.first()
        assert len(one["doc_id"]) == 64  # sha256 hex

    def test_lineage(self, spark, tmp_path):
        df = spark.createDataFrame([(i,) for i in range(100)], "id long").repartition(4)
        path = str(tmp_path / "lineage")
        sinks.append_lineage(df, "fetch", 3, path)
        back = spark.read.parquet(path)
        rows = back.collect()
        assert sum(r["rows"] for r in rows) == 100
        assert all(r["stage"] == "fetch" and r["wave"] == 3 for r in rows)

    def test_metrics_log(self, tmp_path):
        path = str(tmp_path / "m" / "metrics.jsonl")
        sinks.write_metrics_log([{"wave": 0, "n": 5}, {"wave": 1, "n": 7}], path)
        lines = [json.loads(ln) for ln in open(path)]
        assert lines == [{"n": 5, "wave": 0}, {"n": 7, "wave": 1}]


class TestSitemapMonitorPlan:
    """SURVEY §3.3: resolve → diff → prevent_follow frontier → one wave."""

    def _web(self, spark, extra_urls=()):
        urls = ["https://agency-a.gov/p/1", "https://agency-a.gov/p/2", *extra_urls]
        sm = urlset(*urls)
        rows = [("https://agency-a.gov/sitemap.xml", 200, sm.encode())]
        return spark.createDataFrame(rows, "url string, http_status int, body binary")

    def test_first_run_stores_without_emitting(self, spark):
        from searchgov_spider_spark.plans.sitemap_monitor import sitemap_frontier_candidates

        jobs = spark.createDataFrame(
            [("https://agency-a.gov/sitemap.xml", "agency-a")], "sitemap_url string, job string"
        )
        cand, snapshot = sitemap_frontier_candidates(jobs, self._web(spark), None)
        assert cand.count() == 0
        assert snapshot.count() == 2

    def test_new_urls_flagged_and_not_followed(self, spark, tmp_path):
        from searchgov_spider_spark.config import CrawlConfig
        from searchgov_spider_spark.plans.crawl import CrawlEngine
        from searchgov_spider_spark.plans.sitemap_monitor import sitemap_frontier_candidates
        from searchgov_spider_spark.sources.fetch import TablePageFetcher
        from searchgov_spider_spark.testing.graph import PAGES_SCHEMA, render_html

        jobs = spark.createDataFrame(
            [("https://agency-a.gov/sitemap.xml", "agency-a")], "sitemap_url string, job string"
        )
        _, prev = sitemap_frontier_candidates(jobs, self._web(spark), None)
        cand, cur = sitemap_frontier_candidates(
            jobs, self._web(spark, ["https://agency-a.gov/p/NEW"]), prev
        )
        rows = cand.collect()
        assert {r["url"] for r in rows} == {"https://agency-a.gov/p/NEW"}
        assert all(r["prevent_follow"] for r in rows)

        # drain through the engine: the new page links elsewhere, but
        # prevent_follow must keep its children out of the frontier
        spans = [
            {"kind": "text", "text": "hello", "media_ref": None, "offset": 0},
            {"kind": "link", "text": None, "media_ref": "https://agency-a.gov/child", "offset": 1},
        ]
        body = render_html("NEW", "en", spans)
        pages = spark.createDataFrame(
            [(
                "https://agency-a.gov/p/NEW", "agency-a.gov", 200, "text/html; charset=UTF-8",
                None, spans, ["https://agency-a.gov/child"], body, "https://agency-a.gov/p/NEW",
            )],
            PAGES_SCHEMA,
        )
        seeds = spark.createDataFrame(
            [("agency-a", "agency-a.gov", "https://agency-a.gov/", False, False, "csv", 3, None, 1)],
            "name string, allowed_domains string, starting_urls string, allow_query_string boolean, "
            "handle_javascript boolean, output_target string, depth_limit int, "
            "deny_paths array<string>, domain_priority int",
        )
        eng = CrawlEngine(spark, seeds, TablePageFetcher(pages), str(tmp_path / "state"),
                          config=CrawlConfig(wave_seconds=30.0))
        frontier = eng._prepare_candidates(cand)
        seen0 = spark.createDataFrame([], "url_hash long, canon_url string")
        res = eng.run_from(frontier, seen0, max_waves=4)
        assert res.waves[0].scheduled == 1
        assert res.waves[0].emitted == 1
        # child link NOT followed: one wave only
        assert len(res.waves) == 1


def test_parse_urlset_meta_kernel():
    from searchgov_spider_spark.operators.sitemap import parse_urlset_meta

    xml = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://x.gov/a</loc><lastmod>2024-01-05</lastmod>"
        "<changefreq>Daily</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://x.gov/b</loc></url>"
        "<url><loc>https://x.gov/c</loc><priority>bogus</priority></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"  # no loc: skipped
        "</urlset>"
    )
    rows = parse_urlset_meta(xml)
    assert rows == [
        ("https://x.gov/a", "2024-01-05", "daily", 800),
        ("https://x.gov/b", None, None, 500),
        ("https://x.gov/c", None, None, 500),
    ]
    assert parse_urlset_meta("<sitemapindex/>") == []
    assert parse_urlset_meta("not xml") == []
    assert parse_urlset_meta(None) == []


def test_schedule_sitemap_urls(spark):
    from searchgov_spider_spark.operators.sitemap import schedule_sitemap_urls

    body = (
        "<urlset>"
        "<url><loc>https://x.gov/low</loc><priority>0.1</priority></url>"
        "<url><loc>https://x.gov/hi</loc><priority>0.9</priority></url>"
        "<url><loc>https://x.gov/mid-old</loc><lastmod>2023-01-01</lastmod></url>"
        "<url><loc>https://x.gov/mid-new</loc><lastmod>2024-06-01</lastmod></url>"
        "<url><loc>https://x.gov/mid-hourly</loc><changefreq>hourly</changefreq></url>"
        "</urlset>"
    )
    df = spark.createDataFrame(
        [("https://x.gov/sitemap.xml", body)], "sitemap_url string, body string"
    )
    out = {r["url"]: r for r in schedule_sitemap_urls(df).collect()}
    # priority 0.9 first; defaults (500) ordered by changefreq urgency then
    # lastmod desc (nulls last); priority 0.1 last
    assert out["https://x.gov/hi"]["fetch_rank"] == 1
    assert out["https://x.gov/mid-hourly"]["fetch_rank"] == 2
    assert out["https://x.gov/mid-new"]["fetch_rank"] == 3
    assert out["https://x.gov/mid-old"]["fetch_rank"] == 4
    assert out["https://x.gov/low"]["fetch_rank"] == 5
    assert out["https://x.gov/hi"]["priority_milli"] == 900
    assert out["https://x.gov/mid-hourly"]["freq_rank"] == 1


class TestGenerateSitemaps:
    def test_chunking_and_xml(self, spark):
        from searchgov_spider_spark.operators.sitemap import generate_sitemaps

        pages = spark.createDataFrame(
            [("a.gov", f"https://a.gov/p/{i:03d}") for i in range(5)]
            + [("b.gov", "https://b.gov/only")],
            "domain string, url string",
        )
        got = {(r.domain, r.file_idx): r for r in generate_sitemaps(pages, max_per_file=2).collect()}
        assert {(d, i) for d, i in got} == {("a.gov", 0), ("a.gov", 1), ("a.gov", 2), ("b.gov", 0)}
        assert got[("a.gov", 0)].n_urls == 2 and got[("a.gov", 2)].n_urls == 1
        xml0 = got[("a.gov", 0)].xml
        assert xml0.startswith('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')
        assert xml0.endswith("</urlset>")
        assert "<url><loc>https://a.gov/p/000</loc></url><url><loc>https://a.gov/p/001</loc></url>" in xml0

    def test_prefix_urls_sort_by_raw_url(self, spark):
        from searchgov_spider_spark.operators.sitemap import generate_sitemaps

        pages = spark.createDataFrame(
            [("a.gov", "https://a.gov/e/88"), ("a.gov", "https://a.gov/e/8802")],
            "domain string, url string",
        )
        xml = generate_sitemaps(pages, max_per_file=10).collect()[0].xml
        # '/e/88' < '/e/8802' in url order even though the rendered
        # entries would sort the other way
        assert xml.index("/e/88<") < xml.index("/e/8802<")
