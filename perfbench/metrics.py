"""Metric names and units, and the result line the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests check that the two agree.
"""

from __future__ import annotations

import json

# End-to-end metrics, measured with tracing off. Every workload reports
# all of them; an "operation" is a crawl wave or one pass of the headline
# query suite.
E2E = {
    "setup_s": "s",        # median of the run's repeated input set-ups
    "op_s_p50": "s",       # median seconds per operation
    "items_per_s": "1/s",  # URLs scheduled, or queries run, per second
}

HEADLINE_QUERIES = (
    "frontier_schedule", "dedup_seen", "prefetch_filters", "minhash_pairs",
    "simhash_near_dups", "cosine_topk", "pricing_summary", "top_keywords",
    "spans_flatten", "pack_spans", "media_captions", "bm25_topk", "asof_join",
    "rollup_hypertable", "cdx_index",
)

# Per-layer metrics, from the traced run. A workload that does not run a
# layer reports 0 for it.
LAYER = {
    "crawl.jobs_per_wave": "count",
    "crawl.stages_per_wave": "count",
    "crawl.shuffle_bytes_per_wave": "B",
    "crawl.tasks_failed": "count",
    "crawl.resume_s": "s",
    "state.write_s": "s",
    "state.write_calls": "count",
    "state.files_per_wave": "count",
    "state.bytes_per_url": "B",
    "state.read_s": "s",
    "fetch.s": "s",
    "fetch.rows": "count",
    "fetch.shuffle_bytes": "B",
    "extract.s": "s",
    "extract.rows": "count",
    "extract.body_bytes": "B",
    "prefetch.s": "s",
    "prefetch.kept_frac": "frac",
    "canon.s": "s",
    "canon.rows": "count",
    "canon.python_s": "s",
    "canon.transfer_s": "s",
    "dedup.s": "s",
    "dedup.candidates": "count",
    "dedup.suspects": "count",
    "dedup.new": "count",
    "dedup.bloom_fpp": "frac",
    "dedup.bloom_build_s": "s",
    "dedup.bloom_delta_s": "s",
    "dedup.shuffle_bytes": "B",
    "schedule.s": "s",
    "schedule.scheduled": "count",
    "schedule.deferred": "count",
    "schedule.partition_skew": "ratio",
    **{f"query.{q}_s": "s" for q in HEADLINE_QUERIES},
    # driver JVM VmHWM + Python driver max RSS; per layer because it varies
    # by more than a tenth from run to run (JVM heap growth follows GC timing)
    "peak_rss_mb": "MB",
    "setup.session_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_frac": "frac",
}


def result_line(attempted: int, failed: int, values: dict, trace: bool) -> str:
    """The last line of a run's output. With ``trace`` the metrics are the
    per-layer ones, absent layers reading 0; otherwise the end-to-end ones,
    all of which must be present."""
    names = LAYER if trace else E2E
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics not in the benchmark's list: {sorted(unknown)}")
    if not trace and set(values) != set(E2E):
        raise KeyError(f"missing end-to-end metrics: {sorted(set(E2E) - set(values))}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values.get(n, 0), "unit": u} for n, u in names.items()},
    })
