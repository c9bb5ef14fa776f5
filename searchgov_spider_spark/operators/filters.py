"""Pre-fetch filters F1-F7 (SURVEY.md §2.2) as native DataFrame predicates.

Reference behavior:
- F1 offsite domain  — middlewares.py:136-153 (host suffix-matches an allowed
  domain of the job that discovered the URL)
- F2 offsite path    — middlewares.py:147-195 (full URL must contain one of
  the escaped allowed domain+path prefixes; empty list ⇒ allow all; URL- or
  port-shaped entries are ignored)
- F3 query string    — middlewares.py:92-110 (drop any URL with a query
  unless the job sets allow_query_string)
- F4 deny paths      — helpers/domain_spider.py:52,57-60 (global ∪ per-site
  deny regexes applied to the URL)
- F5 extension       — helpers/domain_spider.py:10-27 (80+ media extensions
  never fetched)
- F7 depth limit     — settings.py:58 + domain_spider.py:122-134 clamp

Scale notes: every filter is a broadcast-joined predicate — the per-job rule
table is tiny (1,759 production sites in the reference), so candidates join
it with ``F.broadcast`` and all predicates run in whole-stage codegen via
higher-order array functions. No shuffle is introduced; filters run BEFORE
the fetch stage (the structural analog of predicate pushdown — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FILTER_EXTENSIONS
from ..functions.urls import url_extension_col, url_host_col, url_query_col


def normalize_job_rules(seeds: DataFrame) -> DataFrame:
    """Seeds table -> broadcastable per-job rule table.

    Input columns (FIXTURES.md §3): name, allowed_domains (comma list, may
    include path suffixes), starting_urls (comma list), allow_query_string,
    depth_limit, deny_paths, domain_priority, output_target.

    Output: one row per job with
      job:string, allowed_hosts:array<string> (path info stripped),
      allowed_domain_paths:array<string> (entries that carried a path, or
      empty ⇒ allow-all), allow_query_string, depth_limit (clamped [1,250]),
      deny_regexes:array<string>, priority, output_target,
      start_urls:array<string>.
    """
    split_list = lambda c: F.transform(F.split(c, ","), lambda s: F.trim(s))  # noqa: E731
    entries = F.filter(split_list("allowed_domains"), lambda d: d != "")
    # host-only form: text before the first '/' (helpers/domain_spider.py:63-74)
    hosts = F.transform(entries, lambda d: F.element_at(F.split(d, "/", 2), 1))
    # path-bearing entries participate in the F2 prefix match; entries that
    # look like URLs or carry ports are ignored (middlewares.py:176-194)
    with_path = F.filter(
        entries,
        lambda d: d.contains("/")
        & ~d.rlike(r"^https?://")
        & ~F.element_at(F.split(d, "/", 2), 1).rlike(r":\d+$"),
    )
    return seeds.select(
        F.col("name").alias("job"),
        F.array_distinct(hosts).alias("allowed_hosts"),
        with_path.alias("allowed_domain_paths"),
        F.coalesce("allow_query_string", F.lit(False)).alias("allow_query_string"),
        (
            F.coalesce("handle_javascript", F.lit(False))
            if "handle_javascript" in seeds.columns
            else F.lit(False)
        ).alias("needs_js"),
        F.greatest(F.lit(1), F.least(F.lit(250), F.coalesce("depth_limit", F.lit(3)))).alias("depth_limit"),
        F.coalesce("deny_paths", F.array().cast("array<string>")).alias("deny_regexes"),
        F.coalesce("domain_priority", F.lit(100)).alias("priority"),
        F.coalesce("output_target", F.lit("csv")).alias("output_target"),
        F.filter(split_list("starting_urls"), lambda s: s != "").alias("start_urls"),
    )


def _offsite_domain_ok(host: Column, allowed_hosts: Column) -> Column:
    """Scrapy OffsiteMiddleware semantics: host equals an allowed domain or is
    a subdomain of one. Null/empty host (javascript links) is offsite."""
    return F.when(host.isNull() | (host == ""), F.lit(False)).otherwise(
        F.exists(allowed_hosts, lambda d: (host == F.lower(d)) | host.endswith(F.concat(F.lit("."), F.lower(d))))
    )


def _offsite_path_ok(url: Column, paths: Column) -> Column:
    """Full URL must contain one of the allowed domain+path strings
    (re.escape'd in the reference ⇒ plain substring containment here).
    Empty list ⇒ allow all (middlewares.py:171-172)."""
    return (F.size(paths) == 0) | F.exists(paths, lambda p: url.contains(p))


def _query_string_ok(url: Column, allow_qs: Column) -> Column:
    return allow_qs | url_query_col(url).isNull() | (url_query_col(url) == "")


def _deny_path_ok(url: Column, deny_regexes: Column) -> Column:
    # F.rlike (not Column.rlike): the pattern is a per-job Column
    return ~F.exists(deny_regexes, lambda rx: F.rlike(url, rx))


def _extension_ok(url: Column) -> Column:
    ext = url_extension_col(url)
    # 'tar.gz' is the one two-dot member of FILTER_EXTENSIONS
    return ~ext.isin(*FILTER_EXTENSIONS) & ~F.lower(url).endswith(".tar.gz")


def _depth_ok(depth: Column, depth_limit: Column) -> Column:
    return depth <= depth_limit


def filter_reason_col() -> Column:
    """Over a candidate row joined to its job's rules: null when the row
    passes all pre-fetch filters, else the name of the FIRST failing
    filter (reference middleware order). The tree is a few thousand py4j
    calls to build, so a wave loop builds it once and passes it in."""
    url, host = F.col("url"), url_host_col("url")
    checks = [
        ("offsite_domain", _offsite_domain_ok(host, F.col("allowed_hosts"))),
        ("offsite_path", _offsite_path_ok(url, F.col("allowed_domain_paths"))),
        ("query_string", _query_string_ok(url, F.col("allow_query_string"))),
        ("deny_path", _deny_path_ok(url, F.col("deny_regexes"))),
        ("extension", _extension_ok(url)),
        ("depth", _depth_ok(F.col("depth"), F.col("depth_limit"))),
    ]
    reason = F.lit(None).cast("string")
    for name, ok in reversed(checks):
        reason = F.when(~F.coalesce(ok, F.lit(False)), F.lit(name)).otherwise(reason)
    return reason


def with_filter_verdict(
    candidates: DataFrame, job_rules: DataFrame, reason: Column | None = None
) -> DataFrame:
    """Join candidates to their job's rules (broadcast) and add
    ``filter_reason`` (:func:`filter_reason_col`, or ``reason`` if given).

    Expects candidates columns: url, depth, job.
    """
    joined = candidates.join(F.broadcast(job_rules), "job", "left")
    return joined.withColumn("filter_reason", filter_reason_col() if reason is None else reason)


def apply_prefetch_filters(
    candidates: DataFrame, job_rules: DataFrame, reason: Column | None = None
) -> DataFrame:
    """Rows surviving F1-F7, with rule columns attached (priority etc.)."""
    return (
        with_filter_verdict(candidates, job_rules, reason)
        .filter(F.col("filter_reason").isNull())
        .drop("filter_reason")
    )
