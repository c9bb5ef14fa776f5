"""Sitemap-monitor plan — the third reference entry point (SURVEY.md §3.3).

Reference: run_sitemap_monitor.py → sitemaps/sitemap_monitor.py:263-346:
periodically re-read each configured sitemap, diff the URL set against the
previous snapshot, and crawl only the NEW URLs with ``prevent_follow=True,
depth_limit=1`` (they emit documents but never feed the frontier).

Spark restatement: one periodic batch job —

    resolve_sitemaps (S5 wave loop)
      → anti-join vs previous snapshot (D5) and vs the crawl seen-set (D1)
      → insert into the frontier flagged prevent_follow
      → CrawlEngine.run_from commits it and drains it in one
        politeness-budgeted wave

State: the per-sitemap URL snapshot table replaces the reference's
/var/tmp/spider_sitemaps/{md5}.txt files (sitemap_monitor.py:131-149);
persist it next to the crawl state (parquet / Iceberg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sitemap import resolve_sitemaps, sitemap_new_urls


def sitemap_frontier_candidates(
    sitemap_jobs: DataFrame,
    web: DataFrame,
    previous_snapshot: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve sitemaps and produce frontier candidates for the new URLs.

    sitemap_jobs: (sitemap_url, job) — which crawl job's rules govern each
    sitemap (crawl_sites.py record linkage).
    web: the fetchable table (url, http_status, body).
    previous_snapshot: (sitemap_url, url) from the last run, or None on
    the first run (reference stores without emitting —
    sitemap_monitor.py:240-247).

    Returns (candidates, current_snapshot):
    - candidates: (job, url, depth=0, discovery_idx, prevent_follow=true)
      ready for CrawlEngine._prepare_candidates / run_from; empty on the
      first run.
    - current_snapshot: (sitemap_url, url) to persist for the next diff.
    """
    current = resolve_sitemaps(
        sitemap_jobs.select("sitemap_url").distinct(), web
    )
    if previous_snapshot is None:
        spark = sitemap_jobs.sparkSession
        empty = spark.createDataFrame(
            [], "job string, url string, depth int, discovery_idx long, prevent_follow boolean"
        )
        return empty, current

    new = sitemap_new_urls(current, previous_snapshot)
    candidates = (
        new.join(F.broadcast(sitemap_jobs), "sitemap_url")
        .select(
            "job",
            "url",
            F.lit(0).alias("depth"),
            # deterministic discovery order within the batch: URL rank
            F.xxhash64("url").alias("discovery_idx"),
            F.lit(True).alias("prevent_follow"),
        )
    )
    return candidates, current
