"""Redirect-chain resolution.

The reference's scrapy stack resolves 301/302 chains inside the fetch
middleware (per request, imperatively, REDIRECT_MAX_TIMES-capped); at
frontier scale redirect resolution is better expressed as a SET
operation: resolve every discovered URL's chain against the corpus-wide
redirect table in one declarative plan, so the frontier scheduler sees
final targets (and the seen-set dedupes on them) BEFORE fetch slots are
spent on hop-throughs.

Design: ``max_hops`` composed left equi-joins against the redirect
mapping — no driver loop, no recursion, no per-row Python.  Catalyst
plans each hop as one shuffle (or broadcast when the mapping is small);
a loop (a<->b) simply keeps stepping until the cap and reports
``capped = true``, which is exactly scrapy's RedirectMiddleware give-up
semantics.  At web scale redirect chains are short (the default cap
mirrors a conservative 4), so the plan depth stays tiny while each hop
remains a single co-partitioned join on the url key.

Output is integer/string only (hop count as BIGINT, final url, capped
flag) so the driver's value-hash compare is engine-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REDIRECT_MAX_HOPS = 4


def resolve_redirects(
    requests: DataFrame,
    redirects: DataFrame,
    max_hops: int = REDIRECT_MAX_HOPS,
) -> DataFrame:
    """Resolve each request URL through the redirect mapping.

    ``requests``: any DataFrame with a ``url`` column (the frontier).
    ``redirects``: (src, dst) — one row per redirecting URL (status
    301/302/307/308 with a Location target); non-redirecting URLs are
    simply absent.

    Returns (url, final_url, n_hops, capped):
      * final_url — the first non-redirecting URL reached, or wherever
        the walk stood when the cap hit;
      * n_hops    — redirect steps actually taken (0 for direct URLs);
      * capped    — true when the chain was still redirecting after
        ``max_hops`` steps (longer chain OR a redirect loop).
    """
    out = requests.select(
        F.col("url"),
        F.col("url").alias("final_url"),
        F.lit(0).cast("long").alias("n_hops"),
    )
    # the mapping joins against itself hop after hop — rename its columns
    # per hop so repeated references stay unambiguous
    for i in range(max_hops):
        mi = redirects.select(
            F.col("src").alias(f"_src{i}"), F.col("dst").alias(f"_dst{i}")
        )
        out = (
            out.join(mi, F.col("final_url") == F.col(f"_src{i}"), "left")
            .select(
                "url",
                F.coalesce(F.col(f"_dst{i}"), F.col("final_url")).alias("final_url"),
                (
                    F.col("n_hops")
                    + F.when(F.col(f"_dst{i}").isNotNull(), 1).otherwise(0)
                ).alias("n_hops"),
            )
        )
    # still redirecting after the cap? (one more probe join, no step)
    probe = redirects.select(F.col("src").alias("_cap_src"))
    return (
        out.join(probe, F.col("final_url") == F.col("_cap_src"), "left")
        .select(
            "url",
            "final_url",
            F.col("n_hops").cast("long").alias("n_hops"),
            F.col("_cap_src").isNotNull().alias("capped"),
        )
    )


def resolve_redirects_sql(requests_cte: str, redirects_cte: str) -> str:
    """DuckDB twin: the same composed-left-join plan, spelled as a chain
    of CTE hops (h0..h{REDIRECT_MAX_HOPS}) plus the final cap probe."""
    ctes = [
        requests_cte,
        redirects_cte,
        "h0 AS (SELECT url, url AS final_url, 0::BIGINT AS n_hops FROM requests)",
    ]
    prev = "h0"
    for i in range(1, REDIRECT_MAX_HOPS + 1):
        ctes.append(
            f"h{i} AS (SELECT p.url, coalesce(m.dst, p.final_url) AS final_url, "
            f"p.n_hops + (CASE WHEN m.dst IS NOT NULL THEN 1 ELSE 0 END) AS n_hops "
            f"FROM h{i - 1} p LEFT JOIN redirects m ON p.final_url = m.src)"
        )
        prev = f"h{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT p.url, p.final_url, p.n_hops::BIGINT AS n_hops,
               (m.src IS NOT NULL) AS capped
        FROM {prev} p LEFT JOIN redirects m ON p.final_url = m.src
        ORDER BY url
    """
    )
