"""Link + interleaved text/media span extraction L1/L4 (SURVEY.md §2.3).

Produces, per fetched page, the interleaved span sequence of the BASELINE
input_hint schema:

    spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>

Semantics (reference parity):
- text spans: ordered text nodes excluding any node with an a/button/style/
  script ancestor (parse_html_scrapy.py:13-21), whitespace-stripped,
  empties dropped;
- link spans: hrefs of <a>/<area>/<va-link> tags (LinkExtractor tags,
  helpers/domain_spider.py:54), resolved absolute against the page URL;
- media spans: link hrefs whose extension is in FILTER_EXTENSIONS
  (helpers/domain_spider.py:10-27) plus <img>/<source>/<audio>/<video>
  src attributes;
- offset: 0-based document-order position of the span;
- out_links: link-span refs deduped preserving first occurrence
  (LinkExtractor(unique=True), domain_spider.py:87).

The per-row invariant vs the reference is span-sequence equality on
(kind, text, media_ref, order) — tested by round-tripping the synthetic
corpus (testing/graph.py renders HTML from golden spans; this parser must
recover them exactly) and by golden fixtures.

Execution: stdlib html.parser inside ``mapInPandas`` — Arrow-batched, one
Python parse per page, no driver-side loops. Metadata (title, html lang,
meta tags — parse_html_scrapy.py:24-77) is captured in the same pass.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterable, Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..config import FILTER_EXTENSIONS, LINK_TAGS
from ..functions.encoding import decode_http_response
from ..functions.text import replace_whitespace

_EXCLUDED_ANCESTORS = frozenset({"a", "button", "style", "script"})
_MEDIA_SRC_TAGS = frozenset({"img", "source", "audio", "video", "embed", "track"})
_VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link", "meta",
     "param", "source", "track", "wbr"}
)
_META_NAMES = (
    "keywords", "description", "summary", "date", "revised", "audience",
    "pagename", "language", "url", "og:title", "og:image", "og:site_name",
    "og:description",
)
_FILTER_EXT_SET = frozenset(FILTER_EXTENSIONS)


def _link_extension(url: str) -> str:
    path = url.split("#", 1)[0].split("?", 1)[0]
    last = path.rsplit("/", 1)[-1]
    if last.lower().endswith(".tar.gz"):
        return "tar.gz"
    if "." in last:
        return last.rsplit(".", 1)[-1].lower()
    return ""


class SpanHTMLParser(HTMLParser):
    """Single-pass extraction of spans, out-links and page metadata."""

    def __init__(self, base_url: str):
        super().__init__(convert_charrefs=True)
        self.base_url = base_url
        self.stack: list[str] = []
        self.spans: list[tuple[str, str | None, str | None]] = []
        self.out_links: list[str] = []
        self._seen_links: set[str] = set()
        self.title_parts: list[str] = []
        self.html_lang: str | None = None
        self.meta: dict[str, str] = {}
        self._in_title = False

    # -- tag handling ------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "html" and self.html_lang is None and a.get("lang"):
            self.html_lang = a["lang"]
        elif tag == "meta":
            name = a.get("name") or a.get("property")
            if name in _META_NAMES and a.get("content"):
                self.meta.setdefault(name, a["content"])
        elif tag == "title":
            self._in_title = True
        if tag in LINK_TAGS and a.get("href"):
            self._add_link(a["href"])
        elif tag in _MEDIA_SRC_TAGS and a.get("src"):
            ref = urljoin(self.base_url, a["src"])
            self.spans.append(("media", None, ref))
        if tag not in _VOID_TAGS:
            self.stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        a = dict(attrs)
        if tag in LINK_TAGS and a.get("href"):
            self._add_link(a["href"])
        elif tag in _MEDIA_SRC_TAGS and a.get("src"):
            self.spans.append(("media", None, urljoin(self.base_url, a["src"])))

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False
        # tolerate malformed nesting: pop to the matching open tag if present
        if tag in self.stack:
            while self.stack and self.stack[-1] != tag:
                self.stack.pop()
            if self.stack:
                self.stack.pop()

    def handle_data(self, data):
        if self._in_title:
            self.title_parts.append(data)
            return
        if any(t in _EXCLUDED_ANCESTORS for t in self.stack):
            return
        text = data.strip()
        if text:
            self.spans.append(("text", text, None))

    # -- helpers ------------------------------------------------------------
    def _add_link(self, href: str):
        ref = urljoin(self.base_url, href.strip())
        ext = _link_extension(ref)
        kind = "media" if ext in _FILTER_EXT_SET else "link"
        self.spans.append((kind, None, ref))
        if kind == "link" and ref not in self._seen_links:
            self._seen_links.add(ref)
            self.out_links.append(ref)

    def result(self) -> dict:
        # titles get the reference's replace_whitespace treatment
        # (convert_html_scrapy applies it to every metadata field)
        title = replace_whitespace(" ".join(self.title_parts)) or None
        return {
            "spans": [
                {"kind": k, "text": t, "media_ref": r, "offset": i}
                for i, (k, t, r) in enumerate(self.spans)
            ],
            "out_links": self.out_links,
            "title": title,
            "html_lang": self.html_lang,
            "meta": self.meta,
        }


def parse_page(url: str, body: bytes | str | None) -> dict:
    """Parse one page; never raises (a malformed page yields what was
    parsed so far — crawler resilience)."""
    parser = SpanHTMLParser(url)
    if body is not None:
        html = body if isinstance(body, str) else decode_http_response(bytes(body))
        try:
            parser.feed(html)
            parser.close()
        except Exception:  # noqa: BLE001 — malformed markup must not kill the batch
            pass
    return parser.result()


_EMPTY_RESULT = {"spans": [], "out_links": [], "title": None, "html_lang": None, "meta": {}}


def parse_resource(url: str, body, content_type: str | None) -> dict:
    """Content-type dispatch — the Spark twin of the reference's converter
    split (convert_html_i14y vs convert_pdf_i14y): HTML through the span
    parser, PDF through the PDF kernel, everything else empty fields (the
    document row still emits; only extraction-derived columns are null)."""
    from .pdf import parse_pdf  # local import: keeps module import cheap

    ct = (content_type or "").lower()
    if ct.startswith("text/html") or ct.startswith("application/xhtml"):
        return parse_page(url, body)
    if ct.startswith("application/pdf"):
        return parse_pdf(url, bytes(body) if body is not None else None)
    return dict(_EMPTY_RESULT)


SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

EXTRACTED_FIELDS = T.StructType(
    [
        T.StructField("spans", SPAN_TYPE),
        T.StructField("out_links", T.ArrayType(T.StringType())),
        T.StructField("title", T.StringType()),
        T.StructField("html_lang", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def extract_spans(
    fetched: DataFrame,
    keep_cols: Iterable[str] | None = None,
    ctype_col: str = "content_type",
) -> DataFrame:
    """mapInPandas extraction stage: fetched(url, body, ``ctype_col``, …)
    -> + spans, out_links, title, html_lang, meta.

    The kernel dispatches per row on the ``ctype_col`` content type
    (``parse_resource``): HTML through the span parser, PDF through the
    PDF kernel, anything else empty fields.

    Column pruning matters at scale: only url/body/content type +
    keep_cols flow into the Python worker (Arrow), everything else is
    dropped before the exchange.
    """
    keep = list(keep_cols) if keep_cols is not None else [c for c in fetched.columns if c != "body"]
    if "url" not in keep:
        keep.insert(0, "url")
    if ctype_col not in keep:
        keep.append(ctype_col)
    in_df = fetched.select(*keep, "body")
    out_schema = T.StructType(
        [in_df.schema[c] for c in keep] + list(EXTRACTED_FIELDS.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [
                parse_resource(u, b, ct)
                for u, b, ct in zip(pdf["url"], pdf["body"], pdf[ctype_col])
            ]
            out = pdf[keep].copy()
            for field in ("spans", "out_links", "title", "html_lang", "meta"):
                out[field] = [r[field] for r in results]
            yield out

    return in_df.mapInPandas(run, schema=out_schema)
