"""Span extraction tests: the (kind, text, media_ref, order) round-trip
invariant over the synthetic corpus + hand fixtures mirroring the reference
extraction semantics (parse_html_scrapy.py)."""

from __future__ import annotations

from searchgov_spider_spark.operators.extraction import extract_spans, parse_page
from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs, render_html


def test_parse_page_basic():
    html = b"""<html lang="en-US"><head>
      <title>My  Title</title>
      <meta name="description" content="A desc">
      <meta property="og:title" content="OG Title">
      <style>p {color: red}</style>
      <script>var x = 1;</script>
    </head><body>
      <p>Hello world</p>
      <a href="/rel/page">anchor text ignored</a>
      <button>click me</button>
      <p>Second <b>bold</b> para</p>
      <img src="/img/pic.png">
      <a href="https://x.gov/file.zip">zip link</a>
      <area href="https://x.gov/area">
      <va-link href="https://x.gov/va"></va-link>
    </body></html>"""
    r = parse_page("https://x.gov/base/", html)
    kinds = [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
    assert kinds == [
        ("text", "Hello world", None),
        ("link", None, "https://x.gov/rel/page"),
        ("text", "Second", None),
        ("text", "bold", None),
        ("text", "para", None),
        ("media", None, "https://x.gov/img/pic.png"),
        ("media", None, "https://x.gov/file.zip"),  # zip ⇒ media-classified link
        ("link", None, "https://x.gov/area"),
        ("link", None, "https://x.gov/va"),
    ]
    assert [s["offset"] for s in r["spans"]] == list(range(len(kinds)))
    # out_links: link-kind only, unique, in order; zip excluded (deny ext)
    assert r["out_links"] == ["https://x.gov/rel/page", "https://x.gov/area", "https://x.gov/va"]
    assert r["title"] == "My Title"
    assert r["html_lang"] == "en-US"
    assert r["meta"]["description"] == "A desc"
    assert r["meta"]["og:title"] == "OG Title"


def test_parse_page_edge_cases():
    # empty / malformed / non-utf8 bodies never raise
    assert parse_page("https://x.gov/", None)["spans"] == []
    assert parse_page("https://x.gov/", b"")["spans"] == []
    assert parse_page("https://x.gov/", b"<a href='x")["out_links"] == []
    r = parse_page("https://x.gov/", "caf\xe9 <p>ok</p>".encode("latin-1"))
    assert any(s["text"] and "ok" in s["text"] for s in r["spans"])
    # duplicate links deduped in out_links but both spans kept
    r2 = parse_page("https://x.gov/", b'<a href="/a">1</a><a href="/a">2</a>')
    assert len(r2["spans"]) == 2
    assert r2["out_links"] == ["https://x.gov/a"]


def test_roundtrip_synthetic_corpus():
    """Generator renders HTML from golden spans; the parser must recover the
    exact span sequence — the BASELINE per-row invariant."""
    graph = generate_graph(n_pages=200, seed=11)
    checked = 0
    for p in graph["pages"]:
        if not p.content_type.startswith("text/html"):
            continue
        r = parse_page(p.url, p.body)
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p.spans]
        assert got == want, f"span mismatch for {p.url}"
        assert r["out_links"] == p.out_links
        checked += 1
    assert checked > 150


def test_extract_spans_dataframe(spark):
    """The mapInPandas stage returns identical spans to the pure parser."""
    graph = generate_graph(n_pages=60, seed=3)
    pages_df, _, _ = graph_to_dfs(spark, graph)
    html_pages = pages_df.filter("content_type like 'text/html%'")
    out = extract_spans(
        html_pages.select("url", "content_type", "body"), keep_cols=["url"]
    ).collect()
    golden = {p.url: p for p in graph["pages"]}
    assert len(out) == html_pages.count()
    for row in out:
        p = golden[row["url"]]
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p.spans]
        assert got == want
        assert list(row["out_links"]) == p.out_links


def test_render_title_roundtrip():
    spans = [{"kind": "text", "text": "hello", "media_ref": None, "offset": 0}]
    r = parse_page("https://x.gov/", render_html("T & T", "en", spans))
    assert r["title"] == "T & T"
    assert r["html_lang"] == "en"


# ---------------------------------------------------------------------------
# PDF half of L4 (convert_pdf_i14y.py semantics)
# ---------------------------------------------------------------------------

def test_pdf_roundtrip_spans():
    from searchgov_spider_spark.operators.pdf import parse_pdf
    from searchgov_spider_spark.testing.pdfgen import render_pdf

    pages = [
        {"text": "federal report\nsee https://hot.example.gov/p/3 for details",
         "annot_links": ["https://agency-a.gov/p/1", "https://x.gov/img9.png"]},
        {"text": "second page (with) special \\chars", "annot_links": []},
    ]
    body = render_pdf(pages, title="Budget Report", lang="en-US",
                      creation_date="D:20240105120000Z", mod_date="D:20240301093000Z")
    r = parse_pdf("https://x.gov/doc.pdf", body)
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
    assert got == [
        ("text", pages[0]["text"], None, 0),
        ("link", None, "https://hot.example.gov/p/3", 1),
        ("link", None, "https://agency-a.gov/p/1", 2),
        ("media", None, "https://x.gov/img9.png", 3),
        ("text", pages[1]["text"], None, 4),
    ]
    # visible + annotation links collected, media-extension excluded, order kept
    assert r["out_links"] == ["https://hot.example.gov/p/3", "https://agency-a.gov/p/1"]
    assert r["title"] == "Budget Report"
    assert r["html_lang"] == "en"
    assert r["meta"]["CreationDate"] == "D:20240105120000Z"
    assert r["meta"]["ModDate"] == "D:20240301093000Z"


def test_pdf_malformed_and_encrypted_never_raise():
    from searchgov_spider_spark.operators.pdf import parse_pdf
    from searchgov_spider_spark.testing.pdfgen import render_pdf

    assert parse_pdf("u", None)["spans"] == []
    assert parse_pdf("u", b"not a pdf")["spans"] == []
    assert parse_pdf("u", b"%PDF-1.4 truncated garbage")["spans"] == []
    enc = render_pdf([{"text": "secret", "annot_links": []}]).replace(
        b"/Root", b"/Encrypt 9 0 R /Root"
    )
    assert parse_pdf("u", enc)["spans"] == []  # convert_pdf_i14y.py:82-84


def test_pdf_golden_generator_roundtrip():
    """_mk_pdf golden spans == parser output for every synthetic PDF page."""
    from searchgov_spider_spark.operators.pdf import parse_pdf

    graph = generate_graph(n_pages=400, seed=11)
    pdfs = [p for p in graph["pages"] if p.content_type == "application/pdf"]
    assert len(pdfs) >= 5
    for p in pdfs:
        r = parse_pdf(p.url, p.body)
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p.spans]
        assert got == want, f"span mismatch for {p.url}"


def test_extract_spans_ctype_dispatch(spark):
    """Per-row dispatch: HTML rows through the HTML parser, PDFs through
    the PDF kernel, JSON rows yield empty fields — one mapInPandas stage."""
    graph = generate_graph(n_pages=200, seed=11)
    pages_df, _, _ = graph_to_dfs(spark, graph)
    out = extract_spans(
        pages_df.select("url", "content_type", "body"),
        keep_cols=["url", "content_type"],
        ctype_col="content_type",
    ).collect()
    golden = {p.url: p for p in graph["pages"]}
    n_pdf = 0
    for row in out:
        p = golden[row["url"]]
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        if p.content_type.startswith(("text/html", "application/pdf")):
            want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p.spans]
            assert got == want
            n_pdf += p.content_type.startswith("application/pdf")
        else:
            assert got == []
    assert n_pdf >= 3
