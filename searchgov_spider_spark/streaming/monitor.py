"""Streaming crawl monitors — A1 (monitors.py:21-48) as a continuous job.

Batch twin: driver_queries.q_monitor_codes / plans.crawl WaveMetrics.
Here the fetch log arrives as a stream (file source in-sandbox; Kafka in
production) and the monitors become windowed aggregations with a
watermark for late fetch records:

- per-(window, status) counts with the unwanted-code threshold flag
  (<= 50 per code per window, settings.py:128-129);
- a no-item alarm analog: windows with zero emitted items
  (CLOSESPIDER_TIMEOUT_NO_ITEM, settings.py:42).

All aggregations are watermarked so state is bounded: Spark drops window
state older than the watermark — the streaming analog of the reference's
orphan-TTL cleanup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import MAX_UNWANTED_PER_CODE, UNWANTED_HTTP_CODES

FETCH_LOG_SCHEMA = (
    "ts timestamp, url string, domain string, http_status int, "
    "emitted boolean, wave long"
)


def read_fetch_log_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of fetch-log records (json lines per wave).
    Production swaps this for Kafka with the same schema."""
    return spark.readStream.schema(FETCH_LOG_SCHEMA).json(path)


def status_code_monitor(
    fetch_log: DataFrame,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Per-(window, http_status) counts + unwanted-threshold breach flag."""
    return (
        fetch_log.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("http_status"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "http_status",
            "n",
            (
                F.col("http_status").isin(*UNWANTED_HTTP_CODES)
                & (F.col("n") > MAX_UNWANTED_PER_CODE)
            ).alias("breach"),
        )
    )


def no_item_monitor(fetch_log: DataFrame, window: str = "30 minutes") -> DataFrame:
    """Emitted-item counts per window (10-minute watermark); zero emitted
    in a closed window is the streaming analog of the 24h no-item stop
    condition."""
    return (
        fetch_log.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count("*").alias("fetches"),
            F.sum(F.col("emitted").cast("int")).alias("emitted"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "fetches",
            "emitted",
            (F.col("emitted") == 0).alias("no_item_alarm"),
        )
    )


def domain_rate_monitor(fetch_log: DataFrame, max_per_minute: int = 60) -> DataFrame:
    """Politeness audit: fetches per domain per 1-minute window
    (2-minute watermark); a domain over ``max_per_minute`` (default =
    1 req/s budget) is flagged."""
    return (
        fetch_log.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"), F.col("domain"))
        .agg(F.count("*").alias("fetches"))
        .select(
            F.col("win.start").alias("window_start"),
            "domain",
            "fetches",
            (F.col("fetches") > max_per_minute).alias("over_budget"),
        )
    )


def run_to_memory(stream_df: DataFrame, name: str):
    """Drain all available input into an in-memory table (tests /
    ad-hoc): returns the StreamingQuery after it finishes the batch."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if _has_agg(stream_df) else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _has_agg(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


def windowed_circuit_breaker(
    fetch_log: DataFrame,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming twin of operators.politeness.domain_circuit_breaker:
    per-(window, domain) fetch/5xx counts, integer err ppm, and the trip
    flag — so suspension decisions update continuously as the fetch log
    streams in instead of once per wave. Watermarked, so per-domain
    window state is dropped once closed (bounded state at any domain
    cardinality)."""
    from ..operators.politeness import BREAKER_ERR_PPM, BREAKER_MIN_FETCHES

    agg = (
        fetch_log.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("domain"))
        .agg(
            F.count("*").cast("long").alias("n_fetches"),
            F.sum((F.col("http_status") >= 500).cast("long")).cast("long").alias("n_5xx"),
        )
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        "domain",
        "n_fetches",
        "n_5xx",
        F.expr("n_5xx * 1000000 DIV n_fetches").alias("err_ppm"),
        (
            (F.col("n_fetches") >= F.lit(BREAKER_MIN_FETCHES))
            & (F.expr("n_5xx * 1000000 DIV n_fetches") >= F.lit(BREAKER_ERR_PPM))
        ).alias("suspended"),
    )
