"""robots.txt rule evaluation S7 (SURVEY.md §2.1).

The reference sets ROBOTSTXT_OBEY=True (settings.py:31) and delegates to
Scrapy's middleware, which enforces standard robots semantics per host for
UA 'usasearch' (settings.py:28) falling back to '*'. Here rules live in a
small ``robots`` table (FIXTURES.md §4):

    robots(domain, user_agent, allow_prefixes, disallow_prefixes,
           crawl_delay, sitemap_urls)

Evaluation is RFC 9309 (REP) matching — the semantics Scrapy's Protego
parser applies for the reference's ROBOTSTXT_OBEY=True. Rules are
path patterns where ``*`` matches any character sequence (including
``/``) and a trailing ``$`` anchors the end of the path; all other
octets are literal. Among the allow/disallow rules that match, the one
with the most octets (pattern length) wins; an allow/disallow tie and
no-match both default to allow; a missing robots row allows everything.

Implementation: broadcast join on domain (the robots table is tiny), then
pure higher-order array expressions — F.filter + F.aggregate compute the
longest matching pattern lengths JVM-side, no UDF. Plain prefixes (the
overwhelmingly common rule shape) stay on a startswith fast path;
patterns containing ``*``/``$`` are translated to an anchored Java regex
by pure string expressions and matched with rlike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import url_host_col, url_path_col

# regex metacharacters that must be escaped when an RFC 9309 pattern is
# translated to a Java regex ('*' is excluded: it becomes '.*'; a
# TRAILING '$' is the end anchor, any interior '$' is literal)
_META_CLASS = r"[.?+(){}\[\]\\|^$]"


def rule_regex_col(p: Column) -> Column:
    """Translate an RFC 9309 path pattern to an equivalent Java regex,
    as a pure string-expression column: ``^`` + pattern with regex
    metachars escaped and ``*`` -> ``.*``, plus a ``$`` anchor iff the
    pattern ends with one. rlike's find semantics then give exactly the
    REP rule: anchored at the path start, free to end anywhere unless
    ``$``-anchored."""
    ends = p.endswith("$")
    body = F.when(ends, F.substr(p, F.lit(1), F.length(p) - 1)).otherwise(p)
    esc = F.regexp_replace(body, _META_CLASS, "\\\\$0")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), wild, F.when(ends, F.lit("$")).otherwise(F.lit("")))


def _rule_matches(path: Column, p: Column) -> Column:
    """Does rule pattern ``p`` match ``path`` (RFC 9309 §2.2.2)?
    Wildcard-free patterns short-circuit to startswith so the common
    case never compiles a regex."""
    has_wild = p.contains("*") | p.endswith("$")
    return F.when(has_wild, F.rlike(path, rule_regex_col(p))).otherwise(
        path.startswith(p)
    )


def _longest_match(path: Column, patterns: Column) -> Column:
    """Octet length of the most specific (longest) pattern matching
    ``path`` (0 if none) — RFC 9309 §2.2.2 picks the match with the
    most octets."""
    matching = F.filter(patterns, lambda p: _rule_matches(path, p))
    return F.aggregate(
        matching, F.lit(0), lambda acc, p: F.greatest(acc, F.octet_length(p))
    )


def select_agent_rules(robots: DataFrame, user_agent: str = "usasearch") -> DataFrame:
    """One rule row per domain: the specific UA's row if present, else '*'.

    min_by on specificity keeps the plan a single aggregate over the tiny
    table (no self-join)."""
    pref = F.when(F.col("user_agent") == user_agent, 0).when(F.col("user_agent") == "*", 1).otherwise(2)
    packed = F.struct(
        F.col("allow_prefixes"), F.col("disallow_prefixes"), F.col("crawl_delay"), F.col("sitemap_urls")
    )
    return (
        robots.filter(F.col("user_agent").isin(user_agent, "*"))
        .groupBy("domain")
        .agg(F.min_by(packed, pref).alias("_r"))
        .select("domain", "_r.allow_prefixes", "_r.disallow_prefixes", "_r.crawl_delay", "_r.sitemap_urls")
    )


def robots_allowed_col(path: Column, allow_prefixes: Column, disallow_prefixes: Column) -> Column:
    allow_len = _longest_match(path, F.coalesce(allow_prefixes, F.array().cast("array<string>")))
    deny_len = _longest_match(path, F.coalesce(disallow_prefixes, F.array().cast("array<string>")))
    return (deny_len == 0) | (allow_len >= deny_len)


def robots_keep_col() -> Column:
    """Over a candidate row joined to its domain's agent rules: true when
    the domain has no rules row or its rules allow the URL's path. Built
    once per wave loop, like the rules themselves."""
    allowed = robots_allowed_col(url_path_col("url"), F.col("allow_prefixes"), F.col("disallow_prefixes"))
    return F.col("allow_prefixes").isNull() | allowed


def apply_agent_rules(
    candidates: DataFrame,
    rules: DataFrame,
    host_col: str | None = None,
    keep: Column | None = None,
) -> DataFrame:
    """Drop candidates disallowed by their domain's row of ``rules`` (the
    output of :func:`select_agent_rules`) and attach ``crawl_delay``
    (politeness floor). Missing rules row ⇒ allowed, null delay.
    ``keep`` is a prebuilt :func:`robots_keep_col`."""
    host = F.col(host_col) if host_col else url_host_col("url")
    joined = candidates.withColumn("_host", host).join(
        F.broadcast(rules.withColumnRenamed("domain", "_host")), "_host", "left"
    )
    return joined.filter(robots_keep_col() if keep is None else keep).drop(
        "_host", "allow_prefixes", "disallow_prefixes", "sitemap_urls"
    )


def apply_robots(
    candidates: DataFrame,
    robots: DataFrame,
    user_agent: str = "usasearch",
    host_col: str | None = None,
) -> DataFrame:
    """:func:`apply_agent_rules` over the ``robots`` table's rules for
    ``user_agent``."""
    return apply_agent_rules(candidates, select_agent_rules(robots, user_agent), host_col)


# ---------------------------------------------------------------------------
# robots.txt parsing: raw file text -> the rules table apply_robots consumes
# ---------------------------------------------------------------------------

_ROBOTS_KEYS = ("user-agent", "allow", "disallow", "crawl-delay", "sitemap")


def parse_robots_txt(robots_files: DataFrame) -> DataFrame:
    """Parse raw robots.txt file bodies into the ``robots`` rules table.

    The reference hands robots enforcement to Scrapy's middleware, which
    parses the real file with Protego (settings.py ROBOTSTXT_OBEY); here
    the same grammar is parsed declaratively so a fetched
    ``(domain, robots_txt)`` table feeds :func:`apply_robots` directly.

    RFC 9309 grammar honored:
      - ``key: value`` lines, keys case-insensitive, ``#`` comments
        stripped, blank/foreign lines ignored;
      - GROUPS: consecutive ``User-agent`` lines share the rule block
        that follows (``start-of-group`` = a UA line whose predecessor
        is not one); rules before any group are ignored;
      - multiple groups naming the same agent merge (§2.2.1);
      - an empty ``Disallow:`` value is no rule at all;
      - ``Crawl-delay`` (Protego extension): min across the agent's
        groups; non-numeric values ignored via try_cast;
      - ``Sitemap`` is file-scoped (§2.3): attached to every agent row.

    Output: one row per (domain, user_agent) with sorted, de-duplicated
    ``allow_prefixes`` / ``disallow_prefixes`` arrays (wildcard patterns
    pass through untouched for :func:`robots_allowed_col`),
    ``crawl_delay`` double, ``sitemap_urls`` — exactly the FIXTURES §4
    robots schema.

    Scale shape: one posexplode per file (robots files are KB-sized),
    two layered windows keyed on domain (group-start lag + running
    group id), then two hash aggs; everything codegen/window — no UDF.
    Mirrored cell-for-cell by :func:`parse_robots_txt_sql`.
    """
    from pyspark.sql import Window

    lines = robots_files.select(
        "domain",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias("pos", "raw"),
    )
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*$", ""))
    key = F.lower(F.trim(F.regexp_extract(clean, "^([^:]+):", 1)))
    val = F.trim(F.regexp_extract(clean, "^[^:]+:(.*)$", 1))
    d = (
        lines.select("domain", "pos", key.alias("key"), val.alias("val"))
        .where(F.col("key").isin(*_ROBOTS_KEYS))
    )
    is_ua = F.col("key") == "user-agent"
    w = Window.partitionBy("domain").orderBy("pos")
    d = d.withColumn(
        "gs", (is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))).cast("int")
    ).withColumn("grp", F.sum("gs").over(w))

    sitemaps = (
        d.where(F.col("key") == "sitemap")
        .groupBy("domain")
        .agg(F.array_sort(F.array_distinct(F.collect_list("val"))).alias("sitemap_urls"))
    )
    per_group = (
        d.where(F.col("grp") > 0)
        .groupBy("domain", "grp")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.when(is_ua, F.lower(F.col("val"))))
                )
            ).alias("agents"),
            F.collect_list(
                F.when((F.col("key") == "allow") & (F.col("val") != ""), F.col("val"))
            ).alias("allow_prefixes"),
            F.collect_list(
                F.when((F.col("key") == "disallow") & (F.col("val") != ""), F.col("val"))
            ).alias("disallow_prefixes"),
            F.min(F.expr("try_cast(CASE WHEN key = 'crawl-delay' THEN val END AS DOUBLE)")).alias(
                "crawl_delay"
            ),
        )
    )
    merged = (
        per_group.select(
            "domain",
            F.explode("agents").alias("user_agent"),
            "allow_prefixes",
            "disallow_prefixes",
            "crawl_delay",
        )
        .groupBy("domain", "user_agent")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("allow_prefixes")))
            ).alias("allow_prefixes"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("disallow_prefixes")))
            ).alias("disallow_prefixes"),
            F.min("crawl_delay").alias("crawl_delay"),
        )
    )
    return merged.join(sitemaps, "domain", "left").withColumn(
        "sitemap_urls",
        F.coalesce("sitemap_urls", F.array().cast("array<string>")),
    )


def parse_robots_txt_sql(robots_cte: str) -> str:
    """DuckDB oracle twin over a CTE named ``rb`` with columns
    ``(domain, robots_txt)``. Emits the driver-safe stringified form —
    sorted arrays joined with '|' — so gate queries compare the full
    parse cell-for-cell; the Spark side applies the same array_join."""
    return f"""
        WITH {robots_cte},
        lines AS (
          SELECT rb.domain, u.pos, u.line
          FROM rb, LATERAL (
            SELECT unnest(
              list_transform(string_split(rb.robots_txt, chr(10)),
                             (x, i) -> {{'pos': i, 'line': x}}),
              recursive := true)
          ) u
        ),
        kv AS (
          SELECT domain, pos,
                 lower(trim(regexp_extract(regexp_replace(line, '#.*$', ''), '^([^:]+):', 1))) AS key,
                 trim(regexp_extract(regexp_replace(line, '#.*$', ''), '^[^:]+:(.*)$', 1)) AS val
          FROM lines
        ),
        d AS (
          SELECT * FROM kv
          WHERE key IN ('user-agent', 'allow', 'disallow', 'crawl-delay', 'sitemap')
        ),
        marked AS (
          SELECT *, key = 'user-agent' AS is_ua,
                 CASE WHEN key = 'user-agent' AND NOT coalesce(
                        lag(key = 'user-agent') OVER (PARTITION BY domain ORDER BY pos),
                        false)
                      THEN 1 ELSE 0 END AS gs
          FROM d
        ),
        grouped AS (
          SELECT *, sum(gs) OVER (PARTITION BY domain ORDER BY pos)::BIGINT AS grp
          FROM marked
        ),
        sitemaps AS (
          SELECT domain,
                 array_to_string(list_sort(list_distinct(list(val))), '|') AS sitemaps_str
          FROM grouped WHERE key = 'sitemap' GROUP BY domain
        ),
        per_group AS (
          SELECT domain, grp,
                 list_sort(list_distinct(list(lower(val)) FILTER (WHERE is_ua))) AS agents,
                 list(val) FILTER (WHERE key = 'allow' AND val <> '') AS allows,
                 list(val) FILTER (WHERE key = 'disallow' AND val <> '') AS disallows,
                 min(try_cast(CASE WHEN key = 'crawl-delay' THEN val END AS DOUBLE)) AS crawl_delay
          FROM grouped WHERE grp > 0
          GROUP BY domain, grp
        ),
        exploded AS (
          SELECT domain, unnest(agents) AS user_agent, allows, disallows, crawl_delay
          FROM per_group
        ),
        merged AS (
          SELECT domain, user_agent,
                 coalesce(array_to_string(list_sort(list_distinct(
                   flatten(list(coalesce(allows, []))))), '|'), '') AS allow_str,
                 coalesce(array_to_string(list_sort(list_distinct(
                   flatten(list(coalesce(disallows, []))))), '|'), '') AS disallow_str,
                 min(crawl_delay) AS crawl_delay
          FROM exploded
          GROUP BY domain, user_agent
        )
        SELECT m.domain, m.user_agent, m.allow_str, m.disallow_str,
               m.crawl_delay, coalesce(s.sitemaps_str, '') AS sitemaps_str
        FROM merged m LEFT JOIN sitemaps s ON m.domain = s.domain
        ORDER BY m.domain, m.user_agent
    """
