"""``analytics``: the 15 headline ``driver_queries`` over seeded tables.

No crawl workload touches ``driver_queries`` or ``pipelines``, and the
session-wide settings a crawl optimisation may change (Arrow batch size,
shuffle partitions) move these queries too. A pass collects every query's
result to the Spark driver, as ``tools/check_oracle.py`` does, and each
result is compared with its DuckDB oracle. Passes repeat until the run's
measuring time is spent, at least MIN_PASSES: the first pays the session's
one-time costs (code generation, Python worker start-up, JIT), so the
median of two passes is their mean, half cold and half warm. Single
queries vary widely, so the operation is the whole suite.
"""

from __future__ import annotations

import hashlib
import time

import duckdb
import pandas as pd

from searchgov_spider_spark import driver_queries

from .inputs import analytics_tables
from .metrics import HEADLINE_QUERIES
from .trace import median

SCALE = 0.02  # of the sf0.1 test data's row counts
MIN_PASSES = 2


def setup(seed: int, data_dir) -> None:
    data_dir.mkdir(parents=True)
    for name, df in analytics_tables(seed, SCALE).items():
        df.to_parquet(data_dir / f"{name}.parquet", index=False)


def result_digest(pdf: pd.DataFrame) -> tuple[list[str], str]:
    """Order-free digest of a result: its column names, and a hash of its
    columns by name and rows sorted, floats rounded to 9 places and
    all-midnight timestamps as dates."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            pdf[c] = s.round(9)
        elif pd.api.types.is_datetime64_any_dtype(s):
            if s.notna().all() and (s == s.dt.normalize()).all():
                pdf[c] = s.dt.date
    pdf = pdf.map(lambda v: str(v))
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(row).encode())
        h.update(b"\n")
    return cols, h.hexdigest()


def oracle_digests(data_dir) -> dict[str, tuple[list[str], str]]:
    """``result_digest`` of each headline query's DuckDB oracle."""
    oracles = driver_queries.oracle_sql()
    con = duckdb.connect()
    try:
        for p in data_dir.glob("*.parquet"):
            con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        return {n: result_digest(con.sql(oracles[n]).df()) for n in HEADLINE_QUERIES}
    finally:
        con.close()


def suite_pass(spark, data_dir, span=None) -> tuple[dict[str, float], dict]:
    """Seconds per headline query, each collected to the Spark driver as
    ``tools/check_oracle.py`` does, and the digest of each result."""
    queries = driver_queries.queries()
    times, digests = {}, {}
    for name in HEADLINE_QUERIES:
        t = time.monotonic()
        if span is None:
            pdf = queries[name](spark, str(data_dir)).toPandas()
        else:
            with span(f"query.{name}"):
                pdf = queries[name](spark, str(data_dir)).toPandas()
        times[name] = time.monotonic() - t
        digests[name] = result_digest(pdf)
    return times, digests


def passes(spark, data_dir, seconds: float, want: dict, span=None) -> tuple[list[dict], int]:
    """Suite passes until ``seconds`` are spent, at least MIN_PASSES.
    Returns the per-pass query times and the number of results that differ
    from ``want``."""
    runs, bad = [], 0
    start = time.monotonic()
    while len(runs) < MIN_PASSES or time.monotonic() - start < seconds:
        times, digests = suite_pass(spark, data_dir, span)
        runs.append(times)
        bad += sum(digests[n] != want[n] for n in HEADLINE_QUERIES)
    return runs, bad


def run(ctx) -> dict:
    spark = ctx.spark
    setups = []
    for k in range(ctx.setup_repeats):
        data_dir = ctx.run_dir / f"tables-{k}"
        t = time.monotonic()
        setup(ctx.seed, data_dir)
        setups.append(time.monotonic() - t)

    want = oracle_digests(data_dir)
    tracer = ctx.tracer
    runs, failed = passes(spark, data_dir, ctx.seconds, want, tracer.span if tracer else None)
    attempted = len(HEADLINE_QUERIES) * len(runs)
    ops = [sum(r.values()) for r in runs]
    suite = median(ops)
    if tracer is None:
        metrics = {"setup_s": median(setups), "op_s_p50": suite, "items_per_s": len(HEADLINE_QUERIES) / suite}
        return {"attempted": attempted, "failed": failed, "metrics": metrics, "ops": ops}

    tracer.finish()
    layers = {f"query.{q}_s": median([r[q] for r in runs]) for q in HEADLINE_QUERIES}
    layers["trace.overhead_frac"] = tracer.overhead_s / (sum(ops) - tracer.overhead_s)
    return {"attempted": attempted, "failed": failed, "metrics": layers, "ops": ops}
