"""i14y document assembly (operators/i14y.py) vs the reference's
convert_html_i14y / convert_pdf_i14y field logic on fixture pages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.functions.summarize import summarize_text
from searchgov_spider_spark.operators.extraction import parse_resource
from searchgov_spider_spark.operators.i14y import assemble_i14y
from searchgov_spider_spark.testing.pdfgen import render_pdf

NOW = "2025-06-01T00:00:00"

DOCS_SCHEMA = (
    "url string, content_type string, content_language string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "out_links array<string>, title string, html_lang string, meta map<string,string>"
)

HTML_FULL_META = b"""<html lang="en-US"><head><title>Fall Hiking Guide</title>
<meta name="description" content="A guide to fall hikes">
<meta name="keywords" content="hiking, fall">
<meta name="date" content="2024-01-05">
<meta name="revised" content="2024-03-01">
<meta name="audience" content="everyone">
<meta property="og:image" content="https://x.gov/t.png">
</head><body><p>Autumn trails are lovely.</p><a href="https://x.gov/next">next</a></body></html>"""

HTML_NO_META = (
    b"<html lang=\"en\"><head><title>Plain</title></head>"
    b"<body><p>federal data report. public service budget report.</p></body></html>"
)

HTML_EMPTY = b"<html><head><title>Empty</title></head><body></body></html>"


def _doc_row(url, ctype, body, content_language=None):
    r = parse_resource(url, body, ctype)
    return (url, ctype, content_language, r["spans"], r["out_links"],
            r["title"], r["html_lang"], r["meta"])


@pytest.fixture(scope="module")
def assembled(spark):
    pdf_titled = render_pdf(
        [{"text": "annual budget summary", "annot_links": ["https://x.gov/a"]}],
        title="Annual Budget", lang="en",
        creation_date="D:20240105120000Z", mod_date="D:20240301093000Z",
    )
    pdf_untitled = render_pdf(
        [{"text": "quarterly figures", "annot_links": []}], lang="en",
    )
    rows = [
        _doc_row("https://x.gov/guides/FallHiking.html", "text/html; charset=UTF-8", HTML_FULL_META),
        _doc_row("https://x.gov/plain", "text/html", HTML_NO_META),
        _doc_row("https://x.gov/empty", "text/html", HTML_EMPTY),
        _doc_row("https://x.gov/files/AnnualBudget2024.pdf", "application/pdf", pdf_titled),
        _doc_row("https://x.gov/files/AnnualBudget2024.pdf", "application/pdf", pdf_untitled),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    out = assemble_i14y(docs, now_iso=NOW).collect()
    return {(r["url"], r["title"]): r for r in out}


def test_contentless_html_dropped(assembled):
    assert not any(u == "https://x.gov/empty" for u, _ in assembled)
    assert len(assembled) == 4


def test_html_full_meta_fields(assembled):
    r = assembled[("https://x.gov/guides/FallHiking.html", "Fall Hiking Guide")]
    assert r["language"] == "en" and r["language_valid"]
    assert r["description"] == "A guide to fall hikes"
    assert r["tags"] == "hiking, fall"
    assert r["created_at"] == "2024-01-05T00:00:00"
    assert r["changed"] == "2024-03-01T00:00:00"
    assert r["updated"] == "2024-01-05T00:00:00"
    assert r["updated_at"] == NOW
    assert r["audience"] == "everyone"
    assert r["thumbnail_url"] == "https://x.gov/t.png"
    assert r["basename"] == "FallHiking" and r["extension"] == "html"
    assert r["url_path"] == "/guides/FallHiking.html"
    assert r["domain_name"] == "x.gov"
    assert r["mime_type"] == "text/html"
    assert r["i14y_content_type"] == "article"
    assert r["content"] == "Autumn trails are lovely."
    import hashlib
    assert r["id"] == hashlib.sha256(b"https://x.gov/guides/FallHiking.html").hexdigest()


def test_html_no_meta_summarizes(assembled):
    r = assembled[("https://x.gov/plain", "Plain")]
    summary, keywords = summarize_text(
        "federal data report. public service budget report.", "en"
    )
    assert r["description"] == summary
    assert r["tags"] == keywords
    assert r["created_at"] == NOW  # no date meta -> time_now fallback
    assert r["changed"] is None and r["updated"] is None


def test_pdf_titled_assembly(assembled):
    r = assembled[("https://x.gov/files/AnnualBudget2024.pdf", "Annual Budget")]
    assert r["mime_type"] == "application/pdf"
    assert r["i14y_content_type"] is None and r["audience"] is None
    # add_title_and_filename + link-set append (convert_pdf_i14y.py:134-139)
    assert r["content"] == (
        "Annual Budget AnnualBudget2024.pdf annual budget summary https://x.gov/a"
    )
    summary, keywords = summarize_text("annual budget summary", "en")
    assert r["description"] == f"Annual Budget AnnualBudget2024.pdf {summary}"
    assert r["tags"] == keywords
    assert r["created_at"] == "2024-01-05T12:00:00"
    assert r["changed"] == "2024-03-01T09:30:00"
    assert r["updated"] == "2024-01-05T12:00:00"
    assert r["basename"] == "AnnualBudget2024" and r["extension"] == "pdf"


def test_pdf_untitled_uses_separated_filename(assembled):
    # separate_file_name("AnnualBudget2024.pdf") -> "Annual Budget 2024"
    r = assembled[("https://x.gov/files/AnnualBudget2024.pdf", "Annual Budget 2024")]
    assert r["content"].startswith("Annual Budget 2024 AnnualBudget2024.pdf quarterly figures")
    assert r["created_at"] == NOW  # no Info dates


def test_assembly_over_crawl_documents(spark, tmp_path):
    """The engine's documents output feeds assemble_i14y directly."""
    from searchgov_spider_spark.config import CrawlConfig
    from searchgov_spider_spark.plans.crawl import CrawlEngine
    from searchgov_spider_spark.sources.fetch import TablePageFetcher
    from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs

    graph = generate_graph(n_pages=120, seed=5)
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    engine = CrawlEngine(spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state"),
                         robots=robots_df, config=CrawlConfig(wave_seconds=30.0, salt_buckets=4))
    result = engine.run(max_waves=6)
    out = assemble_i14y(result.documents, now_iso=NOW)
    rows = out.collect()
    assert rows
    html = [r for r in rows if r["mime_type"] == "text/html"]
    pdfs = [r for r in rows if r["mime_type"] == "application/pdf"]
    assert html and pdfs
    for r in rows:
        assert r["id"] and len(r["id"]) == 64
        assert r["content"]
        assert r["domain_name"] and r["url_path"] is not None
        assert r["updated_at"] == NOW
    # every HTML doc got description+tags (meta or summarizer)
    assert all(r["description"] and r["tags"] for r in html)


def test_payload_language_suffixed_keys(spark):
    """Upload serializer reconstructs the reference's dynamic key names:
    f"title{_lang}" etc. when language is allowed, plain keys otherwise
    (convert_html_i14y.py:47-48,76-78)."""
    import json

    from searchgov_spider_spark.operators.i14y import i14y_payloads

    valid = _doc_row(
        "https://x.gov/guides/FallHiking.html", "text/html; charset=UTF-8", HTML_FULL_META
    )
    invalid = _doc_row(
        "https://x.gov/xx",
        "text/html",
        b'<html lang="xx"><head><title>T</title></head><body><p>mystery words here</p></body></html>',
    )
    docs = spark.createDataFrame([valid, invalid], DOCS_SCHEMA)
    assembled_df = assemble_i14y(docs, now_iso=NOW)
    out = {r["id"]: json.loads(r["payload"]) for r in i14y_payloads(assembled_df).collect()}
    rows = {r["path"]: r for r in assembled_df.collect()}

    en = out[rows["https://x.gov/guides/FallHiking.html"]["id"]]
    assert en["title_en"] == "Fall Hiking Guide"
    assert en["description_en"] == "A guide to fall hikes"
    assert en["content_en"] == "Autumn trails are lovely."
    assert "title" not in en and "description" not in en and "content" not in en
    assert en["language"] == "en" and en["mime_type"] == "text/html"
    assert en["_id"] == en["id"] and len(en["id"]) == 64
    assert en["content_type"] == "article"
    for k in ("click_count", "created", "promote",
              "searchgov_custom1", "searchgov_custom2", "searchgov_custom3"):
        assert k in en and en[k] is None

    xx = out[rows["https://x.gov/xx"]["id"]]
    assert xx["title"] == "T" and xx["content"] == "mystery words here"
    assert "title_xx" not in xx and "content_xx" not in xx
