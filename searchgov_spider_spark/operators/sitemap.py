"""Sitemap operators S5/S6 + D5/A4 (SURVEY.md §2.1, §2.4, §2.6).

Reference behavior (all in /root/reference/search_gov_crawler/search_gov_spiders/sitemaps/):

- S5 recursive fetch+parse — sitemap_monitor.py:164-224 ``_fetch_sitemap``:
  parse XML; ``sitemapindex`` entries recurse (max depth 10) but only when
  the loc "looks like" a sitemap (endswith .xml or contains 'sitemap');
  ``urlset`` entries contribute page URLs; anything else is skipped.
- S6 discovery cascade — sitemap_finder.py:69-98: (1) common paths probe,
  (2) robots.txt ``Sitemap:`` directive, (3) homepage ``<link rel>``, (4)
  root-dir XML listing; first hit wins.
- D5 diff — sitemap_monitor.py:227-254: ``new = current - previous``.
- A4 report — sitemap_monitor.py:294-331: new vs total counts.

Spark restatement: the network is a ``web(url, http_status, content_type,
body)`` table (the recorded-HTTP-cache analog used throughout the test
suite). Parsing is a vectorized pandas UDF (xml.etree per batch row —
pure-Python XML parse, Arrow-batched transfer); recursion is an iterative
driver loop of joins, one wave per depth level, each wave a single
co-partitioned join against ``web`` — the idiomatic Spark shape for a
bounded-depth graph traversal (same pattern as the crawl wave loop).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_SITEMAP_DEPTH = 10  # sitemap_monitor.py:164 max_depth

COMMON_SITEMAP_NAMES = (  # sitemap_finder.py common_sitemap_names analog
    "sitemap.xml", "sitemap_index.xml", "sitemap-index.xml", "sitemaps.xml",
)

_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("locs", T.ArrayType(T.StringType())),
    ]
)


def parse_sitemap_xml(body: bytes | str | None) -> tuple[str, list[str]]:
    """Pure-Python sitemap parse (the per-row kernel + unit-test oracle).

    Returns (kind, locs): kind in {'sitemapindex','urlset','invalid'};
    for sitemapindex, locs are lowercased child sitemap URLs filtered by
    the reference's looks-like-a-sitemap heuristic
    (sitemap_monitor.py:196-204); for urlset, locs are page URLs stripped
    (sitemap_monitor.py:205-210).
    """
    if body is None:
        return "invalid", []
    if isinstance(body, bytes):
        raw = body
    else:
        raw = body.encode()
    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return "invalid", []
    ns = root.tag.split("}")[0] + "}" if "}" in root.tag else ""
    if root.tag.endswith("sitemapindex"):
        locs = []
        for sm in root.findall(f"{ns}sitemap"):
            loc = sm.find(f"{ns}loc")
            if loc is not None and loc.text:
                loc_text = loc.text.strip().lower()
                if loc_text.endswith(".xml") or "sitemap" in loc_text:
                    locs.append(loc_text)
        return "sitemapindex", locs
    if root.tag.endswith("urlset"):
        locs = []
        for u in root.findall(f"{ns}url"):
            loc = u.find(f"{ns}loc")
            if loc is not None and loc.text:
                locs.append(loc.text.strip())
        return "urlset", locs
    return "invalid", []


@F.pandas_udf(_PARSED_SCHEMA)
def parse_sitemap_udf(bodies: pd.Series) -> pd.DataFrame:
    parsed = [parse_sitemap_xml(b) for b in bodies]
    return pd.DataFrame({"kind": [p[0] for p in parsed], "locs": [p[1] for p in parsed]})


def resolve_sitemaps(seeds: DataFrame, web: DataFrame) -> DataFrame:
    """S5: expand sitemap URLs (possibly nested indexes) into page URLs.

    seeds: (sitemap_url) roots; web: (url, http_status, body).
    Returns (sitemap_url, url) — page URLs attributed to their root.
    One join + parse per nesting level, down to MAX_SITEMAP_DEPTH;
    visited-set anti-join prevents index cycles (the reference's depth
    counter handles this implicitly).
    """
    spark = seeds.sparkSession
    pending = seeds.select(
        F.col("sitemap_url"), F.lower(F.trim("sitemap_url")).alias("url")
    )
    visited = pending.select("sitemap_url", "url")
    out = None
    pending_empty = False
    for _depth in range(MAX_SITEMAP_DEPTH + 1):
        if pending_empty:
            break
        fetched = pending.join(web.select("url", "http_status", "body"), "url", "left")
        # One eager checkpoint per level: the XML-parse UDF runs exactly
        # once; pages, children, and the final collect all read the
        # materialized blocks instead of re-running the join+parse chain.
        parsed = (
            fetched.withColumn(
                "p",
                F.when(F.col("http_status") == 200, parse_sitemap_udf("body")).otherwise(
                    F.struct(
                        F.lit("invalid").alias("kind"), F.array().cast("array<string>").alias("locs")
                    )
                ),
            )
            .select("sitemap_url", F.col("p.kind").alias("kind"), F.col("p.locs").alias("locs"))
            .localCheckpoint(eager=True)
        )
        pages = parsed.filter(F.col("kind") == "urlset").select(
            "sitemap_url", F.explode("locs").alias("url")
        )
        out = pages if out is None else out.unionByName(pages)
        children = (
            parsed.filter(F.col("kind") == "sitemapindex")
            .select("sitemap_url", F.explode("locs").alias("url"))
            .join(visited, ["sitemap_url", "url"], "left_anti")
            .distinct()
        )
        # emptiness probe over materialized parent level — a narrow
        # filter+take(1), not a recomputation of the whole lineage
        pending_empty = len(children.take(1)) == 0
        visited = visited.unionByName(children)
        pending = children
    if out is None:
        return spark.createDataFrame([], "sitemap_url string, url string")
    return out.distinct()


ROBOTS_SITEMAP_RE = r"(?i)Sitemap:\s*(https?://\S+)"  # sitemap_finder.py:137
HTML_LINK_RE = r'(?i)<link[^>]*rel=["\']sitemap["\'][^>]*href=["\']([^"\']+)["\']'


def discover_sitemaps(domains: DataFrame, web: DataFrame) -> DataFrame:
    """S6: the 4-method discovery cascade, relationally.

    domains: (domain); web: (url, http_status, content_type, body) with
    body as string for text resources. Output: (domain, sitemap_url,
    method) — first method that hits, in reference order.
    """
    base = domains.select("domain", F.concat(F.lit("https://"), F.col("domain"), F.lit("/")).alias("base"))
    txt = F.col("body").cast("string")

    # method 1: common locations that answer 200
    common = None
    for i, name in enumerate(COMMON_SITEMAP_NAMES):
        probe = base.select(
            "domain", F.concat(F.col("base"), F.lit(name)).alias("url"), F.lit(i).alias("pref")
        )
        common = probe if common is None else common.unionByName(probe)
    m1 = (
        common.join(web.filter(F.col("http_status") == 200).select("url"), "url")
        .groupBy("domain")
        .agg(F.min_by("url", "pref").alias("m1"))
    )

    # method 2: robots.txt Sitemap: directive
    robots = base.select("domain", F.concat(F.col("base"), F.lit("robots.txt")).alias("url"))
    m2 = (
        robots.join(web.filter(F.col("http_status") == 200).select("url", "body"), "url")
        .select("domain", F.regexp_extract(txt, ROBOTS_SITEMAP_RE, 1).alias("m2"))
        .filter(F.col("m2") != "")
    )

    # method 3: homepage <link rel="sitemap">
    m3 = (
        base.select("domain", F.col("base").alias("url"))
        .join(web.filter(F.col("http_status") == 200).select("url", "body"), "url")
        .select("domain", F.regexp_extract(txt, HTML_LINK_RE, 1).alias("m3"))
        .filter(F.col("m3") != "")
    )

    # method 4: any .xml with 'sitemap' in the name listed at the root dir
    m4 = (
        web.filter(
            (F.col("http_status") == 200)
            & F.col("url").rlike(r"(?i)^https://[^/]+/[^/]*sitemap[^/]*\.xml$")
        )
        .select(F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("domain"), F.col("url").alias("m4"))
        .groupBy("domain")
        .agg(F.min("m4").alias("m4"))
    )

    joined = (
        domains.join(m1, "domain", "left")
        .join(m2, "domain", "left")
        .join(m3, "domain", "left")
        .join(m4, "domain", "left")
    )
    method = (
        F.when(F.col("m1").isNotNull(), F.lit("common_location"))
        .when(F.col("m2").isNotNull(), F.lit("robots_txt"))
        .when(F.col("m3").isNotNull(), F.lit("html_link"))
        .when(F.col("m4").isNotNull(), F.lit("root_listing"))
    )
    return joined.select(
        "domain",
        F.coalesce("m1", "m2", "m3", "m4").alias("sitemap_url"),
        method.alias("method"),
    ).filter(F.col("sitemap_url").isNotNull())


def sitemap_new_urls(current: DataFrame, previous: DataFrame) -> DataFrame:
    """D5: per-sitemap set difference (current minus previous)."""
    return current.join(previous, ["sitemap_url", "url"], "left_anti")


def sitemap_report(current: DataFrame, previous: DataFrame) -> DataFrame:
    """A4: per-sitemap counts of new vs total URLs."""
    new = sitemap_new_urls(current, previous).groupBy("sitemap_url").agg(F.count("*").alias("new_urls"))
    total = current.groupBy("sitemap_url").agg(F.count("*").alias("total_urls"))
    return total.join(new, "sitemap_url", "left").select(
        "sitemap_url", F.coalesce("new_urls", F.lit(0)).alias("new_urls"), "total_urls"
    )


# --- urlset metadata: lastmod / changefreq / priority -----------------------

# sitemaps.org changefreq values, most->least urgent; unknown sorts last
CHANGEFREQ_RANK = {
    "always": 0, "hourly": 1, "daily": 2, "weekly": 3,
    "monthly": 4, "yearly": 5, "never": 6,
}
DEFAULT_PRIORITY_MILLI = 500  # sitemaps.org default priority 0.5

_META_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("loc", T.StringType()),
            T.StructField("lastmod", T.StringType()),
            T.StructField("changefreq", T.StringType()),
            T.StructField("priority_milli", T.IntegerType()),
        ]
    )
)


def parse_urlset_meta(body: bytes | str | None) -> list[tuple]:
    """Pure-Python urlset parse carrying the optional per-URL metadata
    (lastmod, changefreq, priority). Priority becomes integer milli-units
    via Decimal so '0.8' -> 800 exactly. Unit-test oracle for the UDF."""
    from decimal import Decimal, InvalidOperation

    if body is None:
        return []
    raw = body if isinstance(body, bytes) else body.encode()
    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return []
    if not root.tag.endswith("urlset"):
        return []
    ns = root.tag.split("}")[0] + "}" if "}" in root.tag else ""
    out = []
    for u in root.findall(f"{ns}url"):
        loc = u.find(f"{ns}loc")
        if loc is None or not loc.text:
            continue
        lastmod = u.find(f"{ns}lastmod")
        changefreq = u.find(f"{ns}changefreq")
        priority = u.find(f"{ns}priority")
        p_milli = DEFAULT_PRIORITY_MILLI
        if priority is not None and priority.text:
            try:
                p_milli = int(Decimal(priority.text.strip()) * 1000)
            except (InvalidOperation, ValueError):
                p_milli = DEFAULT_PRIORITY_MILLI
        out.append(
            (
                loc.text.strip(),
                lastmod.text.strip() if lastmod is not None and lastmod.text else None,
                changefreq.text.strip().lower() if changefreq is not None and changefreq.text else None,
                p_milli,
            )
        )
    return out


@F.pandas_udf(_META_SCHEMA)
def parse_urlset_meta_udf(bodies: pd.Series) -> pd.Series:
    return pd.Series([parse_urlset_meta(b) for b in bodies])


def schedule_sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """Priority-aware fetch ordering from urlset metadata.

    Input: (sitemap_url, body). Output: one row per page URL with its
    metadata and a 1-based ``fetch_rank`` *within its sitemap* by
    (priority desc, changefreq urgency, lastmod desc — ISO dates sort
    lexicographically, nulls last, loc tie-break). The window partitions
    on sitemap_url — the natural fetch unit — so no global sort ever
    materializes; ranking work is bounded by the largest single urlset
    (50k URLs by the sitemaps.org spec).
    """
    from pyspark.sql import Window

    freq_rank = F.coalesce(
        *[
            F.when(F.col("changefreq") == k, F.lit(v))
            for k, v in CHANGEFREQ_RANK.items()
        ],
        F.lit(7),
    )
    rows = (
        sitemaps.select(
            "sitemap_url", parse_urlset_meta_udf(F.col("body")).alias("_m")
        )
        .select("sitemap_url", F.explode("_m").alias("u"))
        .select(
            "sitemap_url",
            F.col("u.loc").alias("url"),
            F.col("u.lastmod").alias("lastmod"),
            F.col("u.changefreq").alias("changefreq"),
            F.col("u.priority_milli").cast("long").alias("priority_milli"),
        )
        .withColumn("freq_rank", freq_rank.cast("long"))
    )
    w = Window.partitionBy("sitemap_url").orderBy(
        F.desc("priority_milli"),
        F.asc("freq_rank"),
        F.desc_nulls_last("lastmod"),
        F.asc("url"),
    )
    return rows.withColumn("fetch_rank", F.row_number().over(w).cast("long"))


SITEMAP_MAX_URLS = 50_000  # sitemaps.org protocol cap per urlset file


def generate_sitemaps(
    pages: DataFrame,
    max_per_file: int = SITEMAP_MAX_URLS,
) -> DataFrame:
    """The write side of the sitemap cycle (the reference only reads
    sitemaps; a crawl that republishes its index needs the writer):
    chunk each ``domain``'s canonical ``url`` values into protocol-compliant urlset
    files of <= ``max_per_file`` entries and render the XML.

    Per (domain, file_idx): n_urls and the <urlset> body, URLs in
    deterministic lexicographic order so re-generation is byte-stable
    (diff-able across crawls — the sitemap_diff input on the next
    cycle).

    Plan: one window per domain (row_number, the same per-domain
    ordering shape schedule_sitemap_urls uses) -> chunk id by integer
    division -> one hash-agg per (domain, chunk) string_agg. Sitemap
    files are domain-scoped by protocol, so the window key is never
    global; a 10^10-URL corpus shuffles once on domain (salt a mega-host
    by chunk range if one domain alone exceeds a task)."""
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy("url")
    chunked = pages.select(
        "domain",
        "url",
        ((F.row_number().over(w) - 1) / max_per_file).cast("long").alias("file_idx"),
    )
    entry = F.concat(F.lit("<url><loc>"), F.col("url"), F.lit("</loc></url>"))
    # sort by the RAW url, not the rendered entry: the '</loc>' suffix
    # changes lexicographic order when one url is a prefix of another
    # ('/e/88' < '/e/8802' but '88</loc>' > '8802</loc>')
    sorted_entries = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("url").alias("u"), entry.alias("e")))),
        lambda s: s["e"],
    )
    return (
        chunked.groupBy("domain", "file_idx")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.array_join(sorted_entries, ""),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )


def generate_sitemaps_sql(
    pages_cte: str, max_per_file: int = SITEMAP_MAX_URLS
) -> str:
    """DuckDB twin over a CTE named ``pg`` with (domain, url)."""
    return f"""
        WITH {pages_cte},
        chunked AS (
          SELECT domain, url,
                 ((row_number() OVER (PARTITION BY domain ORDER BY url) - 1)
                   // {int(max_per_file)})::BIGINT AS file_idx
          FROM pg
        )
        SELECT domain, file_idx, count(*)::BIGINT AS n_urls,
               '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                 || string_agg('<url><loc>' || url || '</loc></url>', '' ORDER BY url)
                 || '</urlset>' AS xml
        FROM chunked
        GROUP BY domain, file_idx
        ORDER BY domain, file_idx
    """
