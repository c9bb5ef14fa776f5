"""Crawl-health operators: spider-trap detection and adaptive recrawl
scheduling.

Neither exists in the reference (it crawls a fixed, curated .gov seed
list under a cron schedule — scheduling/schedulers.py re-runs whole
sites), but both are table-stakes for a 10^10-URL frontier:

* ``detect_traps`` finds path stems whose URL population is dominated by
  query-string permutations (calendar pages, session ids, faceted
  search) — the classic crawler-trap signature.  One hash aggregation
  over (domain, path); no window, no skew concern beyond the groupBy
  itself (path stems are far finer than domains).

* ``recrawl_schedule`` is the Cho & Garcia-Molina revisit policy
  ("Effective Page Refresh Policies for Web Crawlers", TODS 2003) in
  integer-exact form: per URL, estimate the change rate from the visit
  history (n_changes / n_visits over the observed span) and derive a
  revisit interval proportional to 1/rate.  Ranking is per-domain (the
  politeness unit), never global — a single hash agg plus one
  domain-partitioned window, both scale-safe at 10^10 URLs because
  domain cardinality bounds the window partitions and the per-URL agg
  is map-side combinable.

All outputs are BIGINT (ppm / seconds / ranks via integer division) so
the driver's value-hash compare is engine-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import url_path_col, url_query_col

TRAP_MIN_URLS = 20
TRAP_QUERY_PCT = 80


def detect_traps(
    urls: DataFrame,
    min_urls: int = TRAP_MIN_URLS,
    query_pct: int = TRAP_QUERY_PCT,
) -> DataFrame:
    """Per (domain, path): URL/query-permutation counts and a trap flag.

    A path stem is flagged when it has at least ``min_urls`` distinct
    URLs and query permutations account for >= ``query_pct``% of them.
    Flagged stems feed the deny-path filter (operators/filters.py F4) so
    later waves stop scheduling the trap.
    """
    per = urls.select(
        "domain",
        url_path_col("url").alias("path"),
        url_query_col("url").alias("query"),
        "url",
    )
    agg = per.groupBy("domain", "path").agg(
        F.countDistinct("url").cast("long").alias("n_urls"),
        # countDistinct skips NULL queries, exactly like DuckDB's
        # count(DISTINCT query)
        F.countDistinct("query").cast("long").alias("n_queries"),
    )
    return agg.select(
        "domain",
        "path",
        "n_urls",
        "n_queries",
        F.expr("n_queries * 100 DIV n_urls").alias("query_pct"),
        (
            (F.col("n_urls") >= F.lit(min_urls))
            & (F.expr("n_queries * 100 DIV n_urls") >= F.lit(query_pct))
        ).alias("is_trap"),
    )


def detect_traps_sql(frontier_cte: str) -> str:
    """DuckDB twin over a CTE named ``f`` with (domain, url) columns.

    Path/query parsing mirrors Spark's try_parse_url on well-formed
    URLs: path = after host up to '?', query = after the first '?'
    (NULL when absent).
    """
    return f"""
        WITH {frontier_cte},
        per AS (
          SELECT domain,
                 coalesce(regexp_extract(url, '^[a-z]+://[^/?]+([^?]*)', 1), '') AS path,
                 CASE WHEN strpos(url, '?') > 0
                      THEN substr(url, strpos(url, '?') + 1)
                 END AS query,
                 url
          FROM f
        ),
        agg AS (
          SELECT domain, path,
                 count(DISTINCT url)::BIGINT AS n_urls,
                 count(DISTINCT query)::BIGINT AS n_queries
          FROM per GROUP BY domain, path
        )
        SELECT domain, path, n_urls, n_queries,
               n_queries * 100 // n_urls AS query_pct,
               (n_urls >= {TRAP_MIN_URLS} AND n_queries * 100 // n_urls >= {TRAP_QUERY_PCT}) AS is_trap
        FROM agg
        ORDER BY domain, path
    """


def recrawl_schedule(visits: DataFrame) -> DataFrame:
    """Adaptive revisit scheduling from a visit history.

    Input rows are fetch observations ``(url_id, domain, ts, changed)``.
    Per URL the operator emits

    * ``n_visits`` / ``n_changes`` — observation counts,
    * ``change_ppm`` — the change-rate estimate ``n_changes * 10^6 DIV
      n_visits`` (the integer-exact analog of X/n in the Poisson
      estimator),
    * ``revisit_sec`` — observed span DIV max(n_changes, 1): the
      expected seconds between changes, i.e. ~1/lambda; URLs never seen
      to change get the full span (crawl least often),
    * ``fetch_rank`` — 1-based rank *within the domain* by descending
      change rate (ties: url_id), the order the politeness budget
      admits recrawls.

    The window partitions by domain — the same key the scheduler
    shuffles on — so no global ordering ever materializes.
    """
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = (
        visits.groupBy("domain", "url_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_visits"),
            F.sum(F.col("changed").cast("long")).cast("long").alias("n_changes"),
            F.min(ts_us).alias("_min_us"),
            F.max(ts_us).alias("_max_us"),
        )
        .withColumn("span_sec", F.expr("(_max_us - _min_us) DIV 1000000"))
        .withColumn("change_ppm", F.expr("n_changes * 1000000 DIV n_visits"))
        .withColumn(
            "revisit_sec",
            F.expr("span_sec DIV greatest(n_changes, CAST(1 AS BIGINT))"),
        )
    )
    w = Window.partitionBy("domain").orderBy(F.desc("change_ppm"), F.asc("url_id"))
    return agg.select(
        "domain",
        "url_id",
        "n_visits",
        "n_changes",
        "span_sec",
        "change_ppm",
        "revisit_sec",
    ).withColumn("fetch_rank", F.row_number().over(w).cast("long"))


def recrawl_schedule_sql(visits_cte: str) -> str:
    """DuckDB twin over a CTE named ``v`` with
    (domain, url_id, ts, changed) columns."""
    return f"""
        WITH {visits_cte},
        agg AS (
          SELECT domain, url_id,
                 count(*)::BIGINT AS n_visits,
                 sum(changed::BIGINT)::BIGINT AS n_changes,
                 (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS span_sec
          FROM v GROUP BY domain, url_id
        )
        SELECT domain, url_id, n_visits, n_changes, span_sec,
               n_changes * 1000000 // n_visits AS change_ppm,
               span_sec // greatest(n_changes, 1) AS revisit_sec,
               (row_number() OVER (
                  PARTITION BY domain
                  ORDER BY n_changes * 1000000 // n_visits DESC, url_id
               ))::BIGINT AS fetch_rank
        FROM agg
        ORDER BY domain, url_id
    """


# --- URL template mining ----------------------------------------------------

TEMPLATE_HEX = r"[0-9a-f]{8,}"
TEMPLATE_NUM = r"[0-9]+"


def url_templates(urls: DataFrame) -> DataFrame:
    """Generalize URLs into structural templates and count the population
    of each: long hex runs (ids, hashes) -> ``{hex}``, digit runs ->
    ``{n}``.  Template mining is how a crawler discovers that
    ``/article/{n}`` has 10^7 members while ``/about`` has one — input to
    both trap denial and crawl prioritization.

    One projection + one hash aggregation; the template key is far finer
    than domain, so the groupBy has no skew beyond the URL population
    itself.
    """
    tpl = F.regexp_replace(
        F.regexp_replace(F.col("url"), TEMPLATE_HEX, "{hex}"),
        TEMPLATE_NUM,
        "{n}",
    )
    return (
        urls.select("domain", tpl.alias("template"), "url")
        .groupBy("domain", "template")
        .agg(
            F.countDistinct("url").cast("long").alias("n_urls"),
            F.min("url").alias("sample_url"),
        )
    )


def url_templates_sql(frontier_cte: str) -> str:
    """DuckDB twin over a CTE named ``f`` with (domain, url) columns.
    DuckDB regexp_replace needs the 'g' flag (Java replaces all by
    default)."""
    return f"""
        WITH {frontier_cte},
        t AS (
          SELECT domain,
                 regexp_replace(regexp_replace(url, '{TEMPLATE_HEX}', '{{hex}}', 'g'),
                                '{TEMPLATE_NUM}', '{{n}}', 'g') AS template,
                 url
          FROM f
        )
        SELECT domain, template,
               count(DISTINCT url)::BIGINT AS n_urls,
               min(url) AS sample_url
        FROM t GROUP BY domain, template
        ORDER BY domain, template
    """


# --- soft-404 detection -------------------------------------------------------

# lowercase match surface; applied to lower(text) on both engines so the
# regex needs no engine-specific case-insensitivity flag
SOFT404_PATTERNS = (
    "(page not found|file not found|404 not found|no longer available"
    "|document has moved|page cannot be found)"
)
SOFT404_MIN_CHARS = 40


def soft404(pages: DataFrame) -> DataFrame:
    """Soft-404 detection: pages served with HTTP 200 whose body says
    otherwise — a not-found phrase or a near-empty body. Crawlers that
    index soft 404s pollute both the seen-set (the URL looks fetched) and
    the search index (the reference's i14y sink would upload an error
    page as a document); flagged rows feed the same deny path as
    ``detect_traps``.

    Per-row projection only (regex + length, whole-stage codegen): no
    shuffle, no UDF — scale-free at 10^10 pages. Output keeps the
    evidence columns so the operator is auditable: (domain, url,
    http_status, n_chars, pattern_hit, too_small, is_soft404).
    """
    lower_text = F.lower(F.col("text"))
    pattern_hit = lower_text.rlike(SOFT404_PATTERNS)
    n_chars = F.length(F.col("text")).cast("long")
    too_small = n_chars < SOFT404_MIN_CHARS
    return pages.select(
        "domain",
        "url",
        F.col("http_status").cast("long").alias("http_status"),
        n_chars.alias("n_chars"),
        pattern_hit.alias("pattern_hit"),
        too_small.alias("too_small"),
        ((F.col("http_status") == 200) & (pattern_hit | too_small)).alias("is_soft404"),
    )


def soft404_sql(pages_cte: str) -> str:
    """DuckDB twin over a CTE named ``pg`` with
    (domain, url, http_status, text) columns."""
    return f"""
        WITH {pages_cte}
        SELECT domain, url,
               http_status::BIGINT AS http_status,
               length(text)::BIGINT AS n_chars,
               regexp_matches(lower(text), '{SOFT404_PATTERNS}') AS pattern_hit,
               length(text) < {SOFT404_MIN_CHARS} AS too_small,
               (http_status = 200 AND (regexp_matches(lower(text), '{SOFT404_PATTERNS}')
                                       OR length(text) < {SOFT404_MIN_CHARS})) AS is_soft404
        FROM pg
        ORDER BY domain, url
    """


# ---------------------------------------------------------------------------
# Inter-wave change detection (the recrawl-frequency feedback signal)
# ---------------------------------------------------------------------------


def change_detect(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Per-domain page-change accounting between two crawl waves: how
    many URLs are unchanged / changed (same URL, different content
    hash) / new / gone, plus the change rate in integer ppm — the
    empirical basis every recrawl scheduler (and the reference's daily
    cron cadence, scheduling/schedulers.py) budgets against: domains
    with high churn earn shorter revisit intervals (feeds
    recrawl_schedule's interval column).

    Input: two waves of ``(domain, url, content_hash)``. Output per
    domain: (domain, n_unchanged, n_changed, n_new, n_gone,
    change_ppm) where change_ppm = changed * 1e6 DIV (changed +
    unchanged) — the rate among pages seen in BOTH waves; all-integer.

    Scale shape: ONE full-outer shuffle join on url (both sides are
    narrow url+hash projections of the wave snapshots, co-partitioned
    on the same key the state store already buckets by), then one
    map-side-combinable hash-agg onto |domains| rows.
    """
    # Presence is decided by an explicit literal marker, NOT by
    # content_hash nullity: a present row carrying a NULL hash must
    # classify as changed/gone exactly as the SQL twin's url-nullity
    # branch does (round-3 advisor finding).
    p = prev.select(
        F.col("domain").alias("p_domain"), "url",
        F.col("content_hash").alias("p_hash"), F.lit(1).alias("p_present"),
    )
    c = curr.select(
        F.col("domain").alias("c_domain"), "url",
        F.col("content_hash").alias("c_hash"), F.lit(1).alias("c_present"),
    )
    j = p.join(c, "url", "full_outer").select(
        F.coalesce("c_domain", "p_domain").alias("domain"),
        F.when(F.col("p_present").isNull(), "new")
        .when(F.col("c_present").isNull(), "gone")
        .when(F.col("p_hash") == F.col("c_hash"), "unchanged")
        .otherwise("changed")
        .alias("state"),
    )
    agg = j.groupBy("domain").agg(
        F.sum((F.col("state") == "unchanged").cast("long")).alias("n_unchanged"),
        F.sum((F.col("state") == "changed").cast("long")).alias("n_changed"),
        F.sum((F.col("state") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("state") == "gone").cast("long")).alias("n_gone"),
    )
    return agg.withColumn(
        "change_ppm",
        F.expr("n_changed * 1000000 DIV nullif(n_changed + n_unchanged, 0)"),
    )


def change_detect_sql(prev_sql: str, curr_sql: str) -> str:
    return f"""
        WITH p AS ({prev_sql}), c AS ({curr_sql}),
        j AS (
          SELECT coalesce(c.domain, p.domain) AS domain,
                 CASE WHEN p.url IS NULL THEN 'new'
                      WHEN c.url IS NULL THEN 'gone'
                      WHEN p.content_hash = c.content_hash THEN 'unchanged'
                      ELSE 'changed' END AS state
          FROM p FULL OUTER JOIN c ON p.url = c.url
        ),
        agg AS (
          SELECT domain,
                 sum(CASE WHEN state = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged,
                 sum(CASE WHEN state = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
                 sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
                 sum(CASE WHEN state = 'gone' THEN 1 ELSE 0 END)::BIGINT AS n_gone
          FROM j GROUP BY domain
        )
        SELECT domain, n_unchanged, n_changed, n_new, n_gone,
               n_changed * 1000000 // nullif(n_changed + n_unchanged, 0) AS change_ppm
        FROM agg
        ORDER BY domain
    """
