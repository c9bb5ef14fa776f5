"""Frontier ordering + per-domain politeness budgets P1-P3 (SURVEY.md §2.5).

The reference throttles to 1 request/sec/domain (settings.py:44-47) with
BFS ordering (DEPTH_PRIORITY=1 + FIFO, settings.py:61-64) and staggers
domains by schedule priority. In the wave model that becomes: each wave, a
domain may fetch at most ``budget`` URLs; within a domain, rows are ordered
by (priority, depth, discovery_idx); rows over budget stay in the frontier
("deferred") for later waves.

Skew: domain cardinality is low (1,759 seeds) and heavy-tailed — a hot
domain can hold most of the frontier. A single
``Window.partitionBy(domain)`` would put the hot domain on one task, so
ranking is two-phase:
  phase 1 (salted): rank within (domain, salt = pmod(url_hash, S)) and keep
  only rank <= budget per salted group — this prunes the hot domain's rows
  to at most S * budget before any single-task work;
  phase 2 (exact): rank the survivors within domain alone (now small) and
  cut at budget.
The identity hash is never salted — only this shuffle key (SURVEY.md §7d).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Deterministic frontier ordering; the final canon_url tie-breaker is
# byte-comparable identically in Spark (UTF8String) and plain Python for
# ASCII URLs, which lets the pure-Python crawl simulator reproduce the
# engine's ordering exactly (tests/golden counts).
FRONTIER_ORDER = ("priority", "depth", "discovery_idx", "canon_url")


def _order_cols(df: DataFrame) -> list[Column]:
    return [F.col(c) for c in FRONTIER_ORDER if c in df.columns]


def schedule_wave(
    frontier: DataFrame,
    budget: int | str,
    salt_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Split a wave's frontier into (scheduled, deferred) under the
    per-domain politeness budget.

    ``budget`` is either a constant or the name of a per-row budget column
    (e.g. derived from a robots crawl_delay). The scheduled rows carry
    ``fetch_rank`` (1-based per-domain rank) — downstream link discovery
    uses it to assign deterministic discovery order to children.
    """
    budget_col = F.col(budget) if isinstance(budget, str) else F.lit(budget)
    order = _order_cols(frontier)
    salted = frontier.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(max(1, salt_buckets))).cast("int")
    )
    w_salted = Window.partitionBy("domain", "_salt").orderBy(*order)
    with_srn = salted.withColumn("_srn", F.row_number().over(w_salted))
    pruned = with_srn.filter(F.col("_srn") <= budget_col).drop("_srn")
    w_exact = Window.partitionBy("domain").orderBy(*order)
    ranked = pruned.withColumn("fetch_rank", F.row_number().over(w_exact))
    scheduled = ranked.filter(F.col("fetch_rank") <= budget_col).drop("_salt")
    # deferred = everything not scheduled. Both windows already computed
    # the split, so recover it as a shuffle-free union of the two
    # over-budget branches instead of the previous frontier-vs-scheduled
    # left_anti join, which re-shuffled AND re-sorted the FULL frontier —
    # the dominant table of the crawl loop — every wave. (The survivor
    # branch additionally gets WindowGroupLimit pushed below its
    # exchange; the dropped branch pays one plain window. Net: the
    # anti-join's extra full-frontier exchange is gone.)
    dropped_phase1 = with_srn.filter(F.col("_srn") > budget_col).drop("_srn", "_salt")
    dropped_phase2 = (
        ranked.filter(F.col("fetch_rank") > budget_col).drop("_salt", "fetch_rank")
    )
    deferred = dropped_phase1.unionByName(dropped_phase2)
    return scheduled, deferred


TOP_K_SALT_BUCKETS = 8


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    k: int,
) -> DataFrame:
    """Salted two-phase top-k rows per group by ``order`` (row_number, so
    ties are cut at exactly ``k``).

    The salt is the partition id mod ``TOP_K_SALT_BUCKETS``. Any
    assignment of rows to salt buckets is correct: phase 1 keeps the
    top-k of each (group, salt) slice, which is always a superset of the
    group's true top-k, and phase 2 re-ranks exactly. The partition id is
    free, needs no hash, and cannot collide all of a hot group onto one
    task.
    """
    salt = F.pmod(F.spark_partition_id().cast("long"), F.lit(TOP_K_SALT_BUCKETS)).cast("int")
    salted = df.withColumn("_salt", salt)
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order)
    pruned = salted.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= k)
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        pruned.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_salt", "_r1", "_r2")
    )


# --- per-domain error circuit breaker ---------------------------------------

BREAKER_MIN_FETCHES = 10
BREAKER_ERR_PPM = 300_000  # suspend at >= 30% server errors


def domain_circuit_breaker(fetch_log: DataFrame) -> DataFrame:
    """Suspend domains whose wave error rate breaches the budget.

    Per domain: fetch count, 5xx count, error rate in ppm (integer
    division — engine-proof), and ``suspended`` once at least
    ``BREAKER_MIN_FETCHES`` were attempted and the rate is >=
    ``BREAKER_ERR_PPM``.
    Suspended domains are removed from the next wave's frontier (the
    scheduler left_anti-joins this table), protecting both the crawl
    budget and the struggling origin — the reference's fixed 1 req/s
    politeness (settings.py DOWNLOAD_DELAY) has no failure-adaptive
    path. One map-side-combinable hash agg; domain cardinality bounds
    the output.
    """
    is_err = (F.col("http_status") >= 500).cast("long")
    agg = fetch_log.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(is_err).cast("long").alias("n_5xx"),
    )
    return agg.select(
        "domain",
        "n_fetches",
        "n_5xx",
        F.expr("n_5xx * 1000000 DIV n_fetches").alias("err_ppm"),
        (
            (F.col("n_fetches") >= F.lit(BREAKER_MIN_FETCHES))
            & (F.expr("n_5xx * 1000000 DIV n_fetches") >= F.lit(BREAKER_ERR_PPM))
        ).alias("suspended"),
    )


def domain_circuit_breaker_sql(fetch_cte: str) -> str:
    """DuckDB twin over a CTE named ``fl`` with (domain, http_status)."""
    return f"""
        WITH {fetch_cte},
        agg AS (
          SELECT domain,
                 count(*)::BIGINT AS n_fetches,
                 sum(CASE WHEN http_status >= 500 THEN 1 ELSE 0 END)::BIGINT AS n_5xx
          FROM fl GROUP BY domain
        )
        SELECT domain, n_fetches, n_5xx,
               n_5xx * 1000000 // n_fetches AS err_ppm,
               (n_fetches >= {BREAKER_MIN_FETCHES}
                AND n_5xx * 1000000 // n_fetches >= {BREAKER_ERR_PPM}) AS suspended
        FROM agg
        ORDER BY domain
    """


# --- frontier drain planning --------------------------------------------------

DOWNLOAD_DELAY_S = 1  # reference politeness: 1 req/s/domain (settings.py:44-47)


def drain_report(frontier: DataFrame, budget: int) -> DataFrame:
    """Crawl-capacity plan per domain: how long the pending frontier takes
    to drain under the politeness budget.

    Per domain: pending URL count, depth span, waves_to_drain =
    ceil(pending / budget), and eta_seconds = pending * DOWNLOAD_DELAY_S
    (the reference's 1 req/s/domain cap makes drain time equal pending
    seconds regardless of worker count). All-integer ceil-div — engine-
    proof. This is the report a crawl operator reads to decide budget
    reallocation across the 1,759-site fleet; at 10^10 URLs it is one
    map-side-combinable hash agg whose output is bounded by domain
    cardinality.
    """
    return (
        frontier.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pending"),
            F.min("depth").cast("long").alias("min_depth"),
            F.max("depth").cast("long").alias("max_depth"),
        )
        .select(
            "domain",
            "pending",
            "min_depth",
            "max_depth",
            F.expr(f"(pending + {budget - 1}) DIV {budget}").alias("waves_to_drain"),
            (F.col("pending") * DOWNLOAD_DELAY_S).alias("eta_seconds"),
        )
    )


def drain_report_sql(frontier_cte: str, budget: int) -> str:
    """DuckDB twin over a CTE named ``f`` with (domain, depth)."""
    return f"""
        WITH {frontier_cte},
        agg AS (
          SELECT domain,
                 count(*)::BIGINT AS pending,
                 min(depth)::BIGINT AS min_depth,
                 max(depth)::BIGINT AS max_depth
          FROM f GROUP BY domain
        )
        SELECT domain, pending, min_depth, max_depth,
               (pending + {budget - 1}) // {budget} AS waves_to_drain,
               pending * {DOWNLOAD_DELAY_S} AS eta_seconds
        FROM agg
        ORDER BY domain
    """


def politeness_audit(
    fetch_log: DataFrame, delay_ms: int = DOWNLOAD_DELAY_S * 1000
) -> DataFrame:
    """Audit the politeness invariant OVER THE FETCH LOG: per domain,
    the fetch count, the minimum inter-fetch gap, and how many gaps
    violate the per-domain delay budget (reference: 1 req/s/domain,
    settings.py:44-47 via DOWNLOAD_DELAY_S). The scheduler enforces the
    budget at plan time (schedule_wave); this is the compliance check a
    crawl operator runs over what ACTUALLY got fetched — the row that
    proves (or disproves) politeness to a .gov webmaster.

    Input: (domain, url, ts). Output per domain: (domain, n_fetches,
    min_gap_ms, violations) — gaps in integer epoch-millis (ties on ts
    break by url so the lag chain is deterministic); min_gap_ms NULL
    for single-fetch domains.

    Scale shape: one shuffle on domain shared by the lag window and the
    hash-agg; the log is a narrow 3-column projection.
    """
    w = Window.partitionBy("domain").orderBy(F.asc("ts"), F.asc("url"))
    # unix_millis, not cast(double)*1000: exact integer millis (a double
    # epoch has ~0.5us resolution at 2026 magnitudes — truncation could
    # differ from DuckDB's exact epoch_ms by 1ms on microsecond inputs)
    # the NTZ->TZ cast is identity under the session's pinned UTC TZ
    epoch_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = fetch_log.select(
        "domain",
        "url",
        "ts",
        (epoch_ms - F.lag(epoch_ms).over(w)).alias("gap_ms"),
    )
    # when/otherwise, not bool-cast: (NULL < x) sums to NULL for a
    # single-fetch domain, while the oracle's CASE yields 0 — mirror CASE
    viol = F.when(F.col("gap_ms") < delay_ms, F.lit(1)).otherwise(F.lit(0))
    return gaps.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.min("gap_ms").cast("long").alias("min_gap_ms"),
        F.sum(viol).cast("long").alias("violations"),
    )


def politeness_audit_sql(fetch_log_sql: str) -> str:
    return f"""
        WITH fl AS ({fetch_log_sql}),
        gaps AS (
          SELECT domain,
                 (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                    PARTITION BY domain ORDER BY ts ASC, url ASC))::BIGINT AS gap_ms
          FROM fl
        )
        SELECT domain, count(*)::BIGINT AS n_fetches,
               min(gap_ms)::BIGINT AS min_gap_ms,
               sum(CASE WHEN gap_ms < {DOWNLOAD_DELAY_S * 1000} THEN 1 ELSE 0 END)::BIGINT AS violations
        FROM gaps GROUP BY domain
        ORDER BY domain
    """


# --- host reputation ----------------------------------------------------------

# penalty weights (tenths) and tier cut-offs for host_reputation
REP_W_5XX, REP_W_DUP, REP_W_SOFT404, REP_W_4XX = 4, 3, 2, 1
REP_GOOD_MIN = 900_000
REP_DEGRADED_MIN = 600_000
REP_MULTIPLIER_PPM = {"good": 1_000_000, "degraded": 500_000, "bad": 100_000}


def host_reputation(fetch_log: DataFrame) -> DataFrame:
    """Composite per-host reputation from the wave fetch log — the
    budget-shaping signal between the binary circuit breaker (trip/ok)
    and the fixed reference politeness: hosts that mostly serve errors,
    duplicates, or soft-404s earn a smaller share of the next wave.

    Input: (domain, http_status, is_dup: bool, is_soft404: bool) — one
    row per completed fetch. Output per domain, all integer ppm:

    - ``err5xx_ppm`` / ``err4xx_ppm`` / ``dup_ppm`` / ``soft404_ppm``
    - ``score_ppm``  1e6 minus the weighted penalty (5xx 40%, dup 30%,
                     soft404 20%, 4xx 10%), floored at 0
    - ``tier``       good (>= 0.9) / degraded (>= 0.6) / bad
    - ``budget_multiplier_ppm`` the politeness-budget scale the next
                     wave's scheduler applies (1e6 / 5e5 / 1e5)

    One map-side-combined hash-agg on domain; output is host-cardinality
    rows, small enough to broadcast back into `schedule_wave`.
    """
    agg = fetch_log.groupBy(F.col("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum((F.col("http_status") >= 500).cast("long")).cast("long").alias("n_5xx"),
        F.sum(
            ((F.col("http_status") >= 400) & (F.col("http_status") < 500)).cast("long")
        ).cast("long").alias("n_4xx"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup"),
        F.sum(F.col("is_soft404").cast("long")).cast("long").alias("n_soft404"),
    )
    rates = agg.select(
        "domain",
        "n_fetches",
        F.expr("n_5xx * 1000000 DIV n_fetches").alias("err5xx_ppm"),
        F.expr("n_4xx * 1000000 DIV n_fetches").alias("err4xx_ppm"),
        F.expr("n_dup * 1000000 DIV n_fetches").alias("dup_ppm"),
        F.expr("n_soft404 * 1000000 DIV n_fetches").alias("soft404_ppm"),
    )
    penalty = F.expr(
        f"({REP_W_5XX} * err5xx_ppm + {REP_W_DUP} * dup_ppm"
        f" + {REP_W_SOFT404} * soft404_ppm + {REP_W_4XX} * err4xx_ppm) DIV 10"
    )
    scored = rates.withColumn(
        "score_ppm", F.greatest(F.lit(0).cast("long"), (F.lit(1_000_000) - penalty).cast("long"))
    )
    tier = (
        F.when(F.col("score_ppm") >= REP_GOOD_MIN, "good")
        .when(F.col("score_ppm") >= REP_DEGRADED_MIN, "degraded")
        .otherwise("bad")
    )
    mult = (
        F.when(F.col("score_ppm") >= REP_GOOD_MIN, REP_MULTIPLIER_PPM["good"])
        .when(F.col("score_ppm") >= REP_DEGRADED_MIN, REP_MULTIPLIER_PPM["degraded"])
        .otherwise(REP_MULTIPLIER_PPM["bad"])
    )
    return scored.select(
        "domain", "n_fetches", "err5xx_ppm", "err4xx_ppm", "dup_ppm", "soft404_ppm",
        "score_ppm", tier.alias("tier"), mult.cast("long").alias("budget_multiplier_ppm"),
    )


def host_reputation_sql(fetch_cte: str) -> str:
    """DuckDB twin over a CTE named ``fl`` with
    (domain, http_status, is_dup, is_soft404)."""
    penalty = (
        f"({REP_W_5XX} * err5xx_ppm + {REP_W_DUP} * dup_ppm"
        f" + {REP_W_SOFT404} * soft404_ppm + {REP_W_4XX} * err4xx_ppm) // 10"
    )
    return f"""
        WITH {fetch_cte},
        agg AS (
          SELECT domain, count(*)::BIGINT AS n_fetches,
                 sum(CASE WHEN http_status >= 500 THEN 1 ELSE 0 END)::BIGINT AS n_5xx,
                 sum(CASE WHEN http_status >= 400 AND http_status < 500 THEN 1 ELSE 0 END)::BIGINT AS n_4xx,
                 sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                 sum(CASE WHEN is_soft404 THEN 1 ELSE 0 END)::BIGINT AS n_soft404
          FROM fl GROUP BY domain
        ),
        rates AS (
          SELECT domain, n_fetches,
                 n_5xx * 1000000 // n_fetches AS err5xx_ppm,
                 n_4xx * 1000000 // n_fetches AS err4xx_ppm,
                 n_dup * 1000000 // n_fetches AS dup_ppm,
                 n_soft404 * 1000000 // n_fetches AS soft404_ppm
          FROM agg
        ),
        scored AS (
          SELECT *, greatest(0, 1000000 - ({penalty}))::BIGINT AS score_ppm FROM rates
        )
        SELECT domain, n_fetches, err5xx_ppm, err4xx_ppm, dup_ppm, soft404_ppm, score_ppm,
               CASE WHEN score_ppm >= {REP_GOOD_MIN} THEN 'good'
                    WHEN score_ppm >= {REP_DEGRADED_MIN} THEN 'degraded'
                    ELSE 'bad' END AS tier,
               (CASE WHEN score_ppm >= {REP_GOOD_MIN} THEN {REP_MULTIPLIER_PPM['good']}
                     WHEN score_ppm >= {REP_DEGRADED_MIN} THEN {REP_MULTIPLIER_PPM['degraded']}
                     ELSE {REP_MULTIPLIER_PPM['bad']} END)::BIGINT AS budget_multiplier_ppm
        FROM scored
        ORDER BY domain
    """


# --- per-worker wave ETA ------------------------------------------------------

WAVE_WORKERS = 5  # reference: 5 concurrent scrapyd processes (scrapy_scheduler.py)
WORKER_RPS_CAP = 20  # per-worker aggregate request capacity (req/s)


def wave_eta(
    scheduled: DataFrame,
    n_workers: int = WAVE_WORKERS,
    delay_s: int = DOWNLOAD_DELAY_S,
    rps_cap: int = WORKER_RPS_CAP,
    delay_col: str | None = None,
) -> DataFrame:
    """Per-worker wave makespan forecast for a scheduled wave.

    The reference runs a fixed pool of crawler processes
    (scrapy_scheduler.py's scrapyd slots) where each process crawls many
    domains concurrently but every domain is throttled to one request
    per ``delay_s`` (settings.py DOWNLOAD_DELAY). A wave's wall time per
    worker is therefore bounded below by BOTH:

      - the politeness floor: the slowest single domain assigned to the
        worker needs ``n_urls_in_domain * delay_s`` seconds regardless
        of capacity, and
      - the capacity floor: the worker can issue at most ``rps_cap``
        requests/second across all its domains, so all assigned URLs
        need ``ceil(n_urls / rps_cap)`` seconds.

    Domains are assigned to workers by a deterministic hash (the same
    stable assignment a distributed fetch tier would use so per-domain
    connection/robots state never migrates mid-wave). Output one row per
    worker: ``(worker, n_domains, n_urls, politeness_floor_s,
    capacity_floor_s, eta_s = greatest of the floors)``. All-integer.

    ``delay_col`` names an optional per-domain crawl-delay column
    (seconds, double, NULL ⇒ the global ``delay_s`` default) carried on
    the scheduled rows — the robots crawl_delay that apply_robots
    attaches, or the adaptive budget's derived delay — so the forecast
    uses the SAME per-domain floor the budget actually enforces.
    Delays convert to integer milliseconds via the engine-proof
    ``floor(x*1000 + 0.5)`` before any arithmetic, keeping the whole
    plan integer-exact; the floor becomes ``ceil(max_domain(n_urls *
    delay_ms) / 1000)``.

    Scale shape: one map-side-combinable hash agg to (domain) — output
    bounded by domain cardinality — then a second tiny agg to
    (worker). The wave ETA drives budget reallocation before the fetch
    tier is committed, so it must not scan fetched content: the input is
    the scheduled wave's 1-2 column projection.
    """
    from ..functions.hashing import portable_hash32_col

    if delay_col is not None:
        delay_ms = F.coalesce(
            F.floor(F.col(delay_col) * 1000 + F.lit(0.5)).cast("long"),
            F.lit(int(delay_s) * 1000),
        )
        per_dom = (
            scheduled.groupBy("domain")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_urls"),
                F.max(delay_ms).cast("long").alias("delay_ms"),
            )
        )
        dom_cost_ms = (F.col("n_urls") * F.col("delay_ms")).alias("dom_cost_ms")
        per_dom = per_dom.select("domain", "n_urls", dom_cost_ms)
    else:
        per_dom = (
            scheduled.groupBy("domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
            .withColumn("dom_cost_ms", (F.col("n_urls") * (int(delay_s) * 1000)).cast("long"))
        )
    per_dom = per_dom.withColumn(
        "worker",
        F.pmod(
            portable_hash32_col(F.concat(F.lit("worker|"), F.col("domain"))),
            F.lit(n_workers),
        ).cast("long"),
    )
    return (
        per_dom.groupBy("worker")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_domains"),
            F.sum("n_urls").cast("long").alias("n_urls"),
            F.expr("CAST((max(dom_cost_ms) + 999) DIV 1000 AS BIGINT)").alias(
                "politeness_floor_s"
            ),
        )
        .withColumn(
            "capacity_floor_s", F.expr(f"(n_urls + {rps_cap - 1}) DIV {rps_cap}")
        )
        .withColumn("eta_s", F.greatest("politeness_floor_s", "capacity_floor_s"))
    )


def wave_eta_sql(scheduled_cte: str, with_delay_col: bool = False) -> str:
    """DuckDB twin over a CTE named ``sched`` with a ``domain`` column
    (plus a ``crawl_delay`` double column when ``with_delay_col``)."""
    from ..functions.hashing import portable_hash32_sql

    h = portable_hash32_sql("'worker|' || domain")
    if with_delay_col:
        delay_ms = (
            f"coalesce(floor(crawl_delay * 1000 + 0.5)::BIGINT, {DOWNLOAD_DELAY_S * 1000})"
        )
        per_dom = f"""
        per_dom AS (
          SELECT domain, count(*)::BIGINT AS n_urls,
                 (count(*) * max({delay_ms}))::BIGINT AS dom_cost_ms,
                 ({h} % {WAVE_WORKERS})::BIGINT AS worker
          FROM sched GROUP BY domain
        )"""
    else:
        per_dom = f"""
        per_dom AS (
          SELECT domain, count(*)::BIGINT AS n_urls,
                 (count(*) * {DOWNLOAD_DELAY_S * 1000})::BIGINT AS dom_cost_ms,
                 ({h} % {WAVE_WORKERS})::BIGINT AS worker
          FROM sched GROUP BY domain
        )"""
    return f"""
        WITH {scheduled_cte},
        {per_dom.strip()},
        per_worker AS (
          SELECT worker, count(*)::BIGINT AS n_domains,
                 sum(n_urls)::BIGINT AS n_urls,
                 ((max(dom_cost_ms) + 999) // 1000)::BIGINT AS politeness_floor_s
          FROM per_dom GROUP BY worker
        )
        SELECT worker, n_domains, n_urls, politeness_floor_s,
               (n_urls + {WORKER_RPS_CAP - 1}) // {WORKER_RPS_CAP} AS capacity_floor_s,
               greatest(politeness_floor_s, (n_urls + {WORKER_RPS_CAP - 1}) // {WORKER_RPS_CAP}) AS eta_s
        FROM per_worker
        ORDER BY worker
    """


def assign_workers_balanced(scheduled: DataFrame, n_workers: int = WAVE_WORKERS) -> DataFrame:
    """Serpentine (boustrophedon) domain→worker assignment — the
    skew-bounded alternative to :func:`wave_eta`'s stable hash.

    Hash assignment keeps per-domain state pinned but lets a few hot
    domains land on one worker; when a wave's forecast shows that skew,
    the scheduler re-deals: rank domains by URL load (descending,
    domain tie-break) and deal them out in snake order
    (0,1,…,n-1,n-1,…,1,0,…), so every worker receives exactly one
    domain from each load tier of 2n — the max/min worker-load gap is
    bounded by one tier, independent of the hot-domain distribution.

    Output: ``(domain, n_urls, worker)``. One map-side-combinable agg
    to domain cardinality, then one global rank window over that
    already-tiny table (1,759 domains in the reference seed list; at
    millions of domains, pre-bucket by load decile and rank within
    buckets — the deal stays tier-balanced).
    """
    from pyspark.sql import Window

    per_dom = scheduled.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("n_urls").desc(), F.col("domain"))
    )
    k = (rank - 1) % (2 * n_workers)
    worker = F.when(k < n_workers, k).otherwise(2 * n_workers - 1 - k)
    return per_dom.select("domain", "n_urls", worker.cast("long").alias("worker"))


def assign_workers_balanced_sql(scheduled_cte: str) -> str:
    """DuckDB twin over a CTE named ``sched`` with a ``domain`` column."""
    return f"""
        WITH {scheduled_cte},
        per_dom AS (
          SELECT domain, count(*)::BIGINT AS n_urls
          FROM sched GROUP BY domain
        ),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY n_urls DESC, domain) AS rk
          FROM per_dom
        )
        SELECT domain, n_urls,
               (CASE WHEN (rk - 1) % {2 * WAVE_WORKERS} < {WAVE_WORKERS}
                     THEN (rk - 1) % {2 * WAVE_WORKERS}
                     ELSE {2 * WAVE_WORKERS} - 1 - (rk - 1) % {2 * WAVE_WORKERS}
                END)::BIGINT AS worker
        FROM ranked
        ORDER BY domain
    """
