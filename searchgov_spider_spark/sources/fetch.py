"""Fetch stage S3/S4 (SURVEY.md §2.1).

Two interchangeable fetchers behind one interface
(``fetch(scheduled) -> DataFrame`` adding http_status, content_type,
content_language, body):

- ``TablePageFetcher`` — joins the scheduled batch against a ``pages``
  table keyed by canonical URL. This is the replayable-cache analog of the
  reference's recorded DBM HTTP cache (test_full_crawl.py,
  HTTPCACHE_IGNORE_MISSING=True): a URL missing from the table behaves as
  a 404. At scale this is a shuffle hash join on canon_url — both sides
  hash-partition on the same key, and AQE handles the skewed hot domain.

- ``HttpFetcher`` — a real network fetch via mapInPandas (urllib), honoring
  the reference's caps: UA 'usasearch', 15 s timeout, 15 MB max, no retries
  (settings.py:28,36-39,50). Not exercised in the sandbox (no network);
  the Spark-side plumbing (schema, batching, partition shape) is real.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG

# the reference's per-request caps: settings.py:38 DOWNLOAD_TIMEOUT and
# settings.py:50 DOWNLOAD_MAXSIZE
DOWNLOAD_TIMEOUT_S = 15.0
DOWNLOAD_MAXSIZE = 15 * 1024 * 1024

FETCH_FIELDS = T.StructType(
    [
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_language", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)


class TablePageFetcher:
    """Replay fetches from a pages table (the sandbox 'web') keyed by
    ``canon_url``."""

    def __init__(self, pages: DataFrame):
        self.pages = pages.select(
            "canon_url", "http_status", "content_type", "content_language", "body"
        )

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        joined = scheduled.join(self.pages, "canon_url", "left")
        # URL not in the table ⇒ 404 with no body (HTTPCACHE_IGNORE_MISSING)
        return joined.withColumn("http_status", F.coalesce("http_status", F.lit(404)))


class RoutingFetcher:
    """S4 routing: rows whose job sets handle_javascript fetch through the
    JS-rendering fetcher (scrapy-playwright analog — domain_spider_js.py),
    the rest through the plain fetcher. Both branches run as independent
    DataFrame plans over a disjoint filter of the scheduled batch, so the
    union costs no extra shuffle. Media/font resource aborts
    (domain_spider_js.py:11-14) are subsumed by the upstream extension
    filter F5 — those URLs never reach any fetcher."""

    def __init__(self, plain, js):
        self.plain = plain
        self.js = js

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        needs_js = F.coalesce(F.col("needs_js"), F.lit(False))
        plain_out = self.plain.fetch(scheduled.filter(~needs_js))
        js_out = self.js.fetch(scheduled.filter(needs_js))
        return plain_out.unionByName(js_out)


def should_abort_resource(resource_type: str) -> bool:
    """Playwright resource-abort predicate — domain_spider_js.py:11-14
    parity: abort any browser subresource whose resource type is in the
    extension filter set (the reference reuses FILTER_EXTENSIONS for
    both URL extensions and playwright resource types)."""
    from ..config import FILTER_EXTENSIONS

    return resource_type in FILTER_EXTENSIONS


class PlaywrightFetcher:
    """JS-rendering fetcher — the scrapy-playwright analog for
    handle_javascript jobs (S4's JS leg behind ``RoutingFetcher``).

    Browser policy mirrors DomainSpiderJs.update_settings
    (domain_spider_js.py:71-86): chromium, headless, subresource aborts
    via ``should_abort_resource``. Execution shape: one headless browser
    per Python worker, pages rendered sequentially within each Arrow
    batch — at cluster scale the politeness budget (not the browser)
    bounds per-executor page throughput.

    ``playwright`` is not installed in this sandbox, so construction is
    gated (fail fast on the driver, not as a mid-job executor error);
    the in-sandbox JS path is exercised by RoutingFetcher tests with a
    table-replay fetcher standing in for the browser.
    """

    def __init__(self):
        import importlib.util

        if importlib.util.find_spec("playwright") is None:
            raise NotImplementedError(
                "playwright is not installed; install playwright + browser "
                "binaries on the executors, or route JS jobs through a "
                "table-replay fetcher (see RoutingFetcher tests)"
            )

    def fetch(self, scheduled: DataFrame) -> DataFrame:  # pragma: no cover - needs playwright
        user_agent = DEFAULT_CONFIG.user_agent
        out_schema = T.StructType(list(scheduled.schema.fields) + list(FETCH_FIELDS.fields))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from playwright.sync_api import sync_playwright  # executors only

            with sync_playwright() as p:
                browser = p.chromium.launch(headless=True)
                page = browser.new_page(user_agent=user_agent)
                page.route(
                    "**/*",
                    lambda route: route.abort()
                    if should_abort_resource(route.request.resource_type)
                    else route.continue_(),
                )

                def one(url: str):
                    try:
                        resp = page.goto(url, timeout=DOWNLOAD_TIMEOUT_S * 1000)
                        body = page.content().encode("utf-8")[:DOWNLOAD_MAXSIZE]
                        return (
                            resp.status if resp else 0,
                            (resp.headers.get("content-type") if resp else None),
                            (resp.headers.get("content-language") if resp else None),
                            body,
                        )
                    except Exception:  # no retries (RETRY_ENABLED=False)
                        return (0, None, None, None)

                for pdf in batches:
                    results = [one(u) for u in pdf["url"]]
                    out = pdf.copy()
                    out["http_status"] = [r[0] for r in results]
                    out["content_type"] = [r[1] for r in results]
                    out["content_language"] = [r[2] for r in results]
                    out["body"] = [r[3] for r in results]
                    yield out
                browser.close()

        return scheduled.mapInPandas(run, schema=out_schema)


class HttpFetcher:
    """Real HTTP fetch via mapInPandas (disabled in sandbox: no network)."""

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        user_agent = DEFAULT_CONFIG.user_agent
        out_schema = T.StructType(list(scheduled.schema.fields) + list(FETCH_FIELDS.fields))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import urllib.request  # imported on executors only

            def one(url: str):
                req = urllib.request.Request(url, headers={"User-Agent": user_agent})
                try:
                    with urllib.request.urlopen(req, timeout=DOWNLOAD_TIMEOUT_S) as resp:
                        body = resp.read(DOWNLOAD_MAXSIZE)
                        return (
                            resp.status,
                            resp.headers.get("Content-Type"),
                            resp.headers.get("Content-Language"),
                            body,
                        )
                except Exception:  # no retries (RETRY_ENABLED=False)
                    return (0, None, None, None)

            for pdf in batches:
                results = [one(u) for u in pdf["url"]]
                out = pdf.copy()
                out["http_status"] = [r[0] for r in results]
                out["content_type"] = [r[1] for r in results]
                out["content_language"] = [r[2] for r in results]
                out["body"] = [r[3] for r in results]
                yield out

        return scheduled.mapInPandas(run, schema=out_schema)
