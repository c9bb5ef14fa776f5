"""Warehouse-style mutation operators: MERGE-style upsert and SCD2
validity intervals.

Spark has no MERGE INTO against plain parquet (that's a table-format
feature); these express the same semantics as pure DataFrame plans — the
shapes the crawl state store's delta persistence composes per wave
(sources/state.py write_delta/read_accumulated), generalized to any keyed
table.

Scale shapes: upsert is one left_anti shuffle on the key (the delta is
usually the small side — broadcastable); SCD2 is one shuffle + one
window per key, linear in the change log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE semantics: rows of ``updates`` replace same-key rows of
    ``target``; unmatched target rows survive; new keys insert.
    Equivalent to ``MERGE INTO target USING updates ON key WHEN MATCHED
    UPDATE * WHEN NOT MATCHED INSERT *``.

    Plan: updates ∪ (target LEFT ANTI updates ON key) — one anti-join
    shuffle (broadcast when the delta is small), no window, no full
    rewrite of unmatched data at the plan level (a format with file
    pruning rewrites only matched files).
    """
    kept = target.join(updates.select(key), key, "left_anti")
    return updates.unionByName(kept)


def upsert_sql(target_sql: str, updates_sql: str, key: str, order_by: str) -> str:
    # NOT EXISTS, not NOT IN: a NULL key in u would make NOT IN evaluate
    # UNKNOWN and silently drop every unmatched target row, whereas the
    # Spark twin's left_anti join keeps them. NOT EXISTS with an equality
    # correlate matches left_anti's null-safe keep-semantics exactly.
    return f"""
        WITH t AS ({target_sql}), u AS ({updates_sql})
        SELECT * FROM u
        UNION ALL
        SELECT * FROM t WHERE NOT EXISTS (
          SELECT 1 FROM u WHERE u.{key} = t.{key}
        )
        ORDER BY {order_by}
    """


def scd2_intervals(
    changes: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change log into validity
    intervals — (key, value, valid_from, valid_to, is_current), where
    valid_to = the next change's timestamp (null while current). Ties on
    ts break by ``id_col`` so the interval chain is deterministic.

    One shuffle on the key, one window (lead + last-row flag share the
    sort).
    """
    w = Window.partitionBy(key).orderBy(F.asc(ts_col), F.asc(id_col))
    return changes.select(
        key,
        F.col(value_col).alias("value"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.col(id_col).alias("change_id"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def compaction_plan(files: DataFrame, target_bytes: int) -> DataFrame:
    """Small-file compaction planning (the Iceberg/Delta ``binPack``
    analog): within each table partition, assign files to rewrite groups
    of ~``target_bytes`` via next-fit over a size-descending ordering —
    group = running-bytes-before-this-file DIV target. Deterministic
    (ties break on file_id), pure integer arithmetic, and each group
    overshoots the target by at most one file — the bounded-overshoot
    guarantee binPack gives.

    Input: ``files(part_key, file_id, bytes)`` — a file manifest (at
    scale, the table format's metadata tables, thousands of rows per
    partition, never the data itself). Output adds (grp, grp_bytes).

    Scale shape: one window per part_key over the MANIFEST (tiny next to
    the data); the plan is what the rewrite job consumes — compaction
    itself is then an embarrassingly parallel per-group coalesce."""
    w = (
        Window.partitionBy("part_key")
        .orderBy(F.desc("bytes"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = (
        files.withColumn("bytes", F.col("bytes").cast("long"))
        .withColumn("cum_before", F.sum("bytes").over(w) - F.col("bytes"))
        # integer DIV, not floor(float /): engine-proof group ids
        .withColumn("grp", F.expr(f"cum_before DIV {int(target_bytes)}"))
        .drop("cum_before")
    )
    gw = Window.partitionBy("part_key", "grp")
    return planned.select(
        "part_key", "file_id", "bytes", "grp",
        F.sum("bytes").over(gw).cast("long").alias("grp_bytes"),
    )


def compaction_plan_sql(files_sql: str, target_bytes: int) -> str:
    return f"""
        WITH files AS ({files_sql}),
        planned AS (
          SELECT part_key, file_id, bytes::BIGINT AS bytes,
                 ((sum(bytes) OVER (PARTITION BY part_key ORDER BY bytes DESC, file_id ASC
                                   ROWS UNBOUNDED PRECEDING) - bytes) // {target_bytes})::BIGINT AS grp
          FROM files
        )
        SELECT part_key, file_id, bytes, grp,
               sum(bytes) OVER (PARTITION BY part_key, grp)::BIGINT AS grp_bytes
        FROM planned
        ORDER BY part_key, grp, bytes DESC, file_id
    """


def zone_map(df: DataFrame, file_col, stat_col) -> DataFrame:
    """Per-file zone-map stats (min/max/count of ``stat_col``) — the
    metadata a manifest-based reader prunes against, exactly what
    Iceberg/Delta keep per data file and what parquet keeps per
    row-group. One hash-agg over the data at write time; pruning later
    never touches the data."""
    return df.groupBy(F.col(file_col).alias("file_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(stat_col).cast("long").alias("min_stat"),
        F.max(stat_col).cast("long").alias("max_stat"),
    )


def prune_files(zones: DataFrame, lo: int, hi: int) -> DataFrame:
    """Zone-map file pruning for a range predicate [lo, hi]: a file is
    read iff its [min_stat, max_stat] envelope intersects the range.
    Metadata-only — the decision column ``rows_read`` quantifies the
    scan saved (the judge of layout quality: after a z-order/sort
    rewrite, skipped-row fraction rises for the same predicate)."""
    kept = (F.col("max_stat") >= lo) & (F.col("min_stat") <= hi)
    return zones.select(
        "file_id", "n_rows", "min_stat", "max_stat",
        kept.alias("kept"),
        F.when(kept, F.col("n_rows")).otherwise(F.lit(0)).cast("long").alias("rows_read"),
    )


def scd2_intervals_sql(
    table: str = "events",
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    where: str = "TRUE",
) -> str:
    return f"""
        SELECT {key},
               {value_col} AS value,
               {ts_col} AS valid_from,
               lead({ts_col}) OVER w AS valid_to,
               {id_col} AS change_id,
               lead({ts_col}) OVER w IS NULL AS is_current
        FROM {table}
        WHERE {where}
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts_col} ASC, {id_col} ASC)
        ORDER BY {key}, valid_from, change_id
    """
