"""SparkSession factory tuned for this engine.

Local mode is used for tests/bench (``local[N]``); on a real cluster the
same builder options apply — AQE, Arrow, and a shuffle-partition count
sized to the cluster. At 100 TB scale the entry point is
``spark-submit --py-files searchgov_spider_spark.zip job.py`` with the
same session options.

Cached plans may change their output partitioning
(``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). Spark
defaults it off, so AQE never coalesces the shuffles inside a plan that is
being cached, and every stage downstream of a cached frame keeps
``spark.sql.shuffle.partitions`` tasks however few rows it holds. The crawl
wave caches four frames right after its window exchanges (scheduled,
fetched, parsed, candidates); with the option off a politeness-bounded
wave of ~120 URLs ran every Python stage after them (extraction,
canonicalize) as 32 tasks of ~4 rows, and each Python task costs a fixed
~0.1 s of executor time on a 4-vCPU box (BENCH.md). With it on, AQE sizes
those frames by their bytes: one partition for a small wave, as many as a
production wave needs. No crawl operator depends on a cached frame's
partition count (tests/test_crawl_engine.py pins both properties).

The generated-code cache holds 1,000 classes
(``spark.sql.codegen.cache.maxEntries``, a static conf, so a builder
option). Spark's default of 100 is smaller than one unit of this engine's
work: the first crawl wave of a process compiles ~155 distinct classes
and a pass of the 15 headline analytics queries ~216 (4-vCPU box). With
the default, each wave evicted classes the next wave needed, and Janino
recompiled ~140 of them per 120-URL crawl wave and ~200 per warm
analytics pass. At 1,000 entries a process compiles a class about once:
a warm crawl wave compiles 16-22, a warm analytics pass 0-8 (BENCH.md
"A wave pays only for its data").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "searchgov_spider_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    - AQE on (runtime coalescing + skew-join backstop for the hot-domain
      skew described in SURVEY.md §4).
    - Arrow on (all UDF exchange is vectorized; no per-row Python).
    - UTC session timezone (oracle comparisons against DuckDB).

    The master is ``SPARK_GRAFT_MASTER`` when set, else
    ``local[SPARK_GRAFT_CPUS]`` (the spark-submit master under
    spark-submit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # direct `python` launch: default to local mode. Under spark-submit
        # the gateway JVM already carries --master; don't override it.
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fetch/extraction rows carry up to 15 MB bodies (DOWNLOAD_MAXSIZE);
        # the 10k-row default Arrow batch would be gigabytes on a body-
        # carrying stage. 2048 keeps a typical-body batch ~200 MB while
        # costing row-heavy UDF stages (canonicalize) <10% vs the default.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # let AQE coalesce the shuffles under cache() too (module docstring):
        # the wave's cached frames then hold as many partitions as their
        # bytes need, not shuffle.partitions, so small waves stop paying
        # the fixed per-task Python cost once per empty-ish partition
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # hold a whole wave's (and analytics pass's) generated classes, so
        # each is compiled once per process, not once per wave (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
