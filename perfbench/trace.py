"""Spans for the traced run: kept in memory, written out when the run ends.

A span is ``(name, start, end, parent, run_id)`` plus the Spark work done
directly under it. Each span runs its calls under its own Spark job group,
so the jobs, stages, shuffle bytes and failed tasks read back from the
status tracker belong to that span alone, not to its children. They are
read once, in ``finish``, after Spark's listener bus has delivered every
task event.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    tasks_failed: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other; the covered part is the union of
    their intervals, clipped to the parent.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.seconds - covered)
    return out


class Tracer:
    """Collects spans for one run. ``spark`` may be None (no job stats).

    ``overhead_s`` is the time spent opening and closing spans: what
    tracing adds to the traced code's wall time.
    """

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.monotonic()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, t0, 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"{self.run_id}-{idx}"
        outer = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        s.start = time.monotonic()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = t1 = time.monotonic()
            self._stack.pop()
            if sc:
                if outer is not None:
                    parent_name = self.spans[self._stack[-1]].name if self._stack else ""
                    sc.setJobGroup(outer, parent_name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.monotonic() - t1

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def finish(self) -> None:
        """Fill in each span's Spark job statistics."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for idx, s in enumerate(self.spans):
            stage_ids: set[int] = set()
            for jid in tracker.getJobIdsForGroup(f"{self.run_id}-{idx}"):
                s.jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                s.stages += 1
                s.tasks_failed += st.numFailedTasks
                s.shuffle_bytes += int(store.lastStageAttempt(sid).shuffleWriteBytes())

    def subtree(self, root: int) -> list[int]:
        """Indices of ``root`` and all its descendants."""
        out = [root]
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in out:
                out.append(i)
        return out

    def dump(self, path) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s, t in zip(self.spans, st):
                f.write(json.dumps({**asdict(s), "self_s": t}) + "\n")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Record a span around every call of the eager entry points the crawl
    engine makes internally: the state store's write/read methods, the
    bloom-building functions and the bloom merge. The wrappers live in this process
    only and are removed on exit."""
    from searchgov_spider_spark.operators import dedup
    from searchgov_spider_spark.plans import crawl
    from searchgov_spider_spark.sources.state import ParquetStateStore

    patches = [
        (ParquetStateStore, name, f"state.{name}")
        for name in ("write", "read", "read_accumulated")
    ]
    patches.append((dedup.ShardedBloom, "merge", "dedup.merge"))
    bloom_fns = [n for n in vars(dedup) if n.startswith(("build_bloom", "build_delta_bloom"))]
    for mod in (dedup, crawl):
        patches += [(mod, n, f"dedup.{n}") for n in bloom_fns if hasattr(mod, n)]
    saved = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
    try:
        for (owner, name, span_name), (_, _, fn) in zip(patches, saved):
            setattr(owner, name, tracer.wrap(span_name, fn))
        yield tracer
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def force(df):
    """Persist ``df`` and compute every column of it with a no-op write."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2


def task_slots(df) -> int:
    """Tasks that can run at once over ``df``'s partitions."""
    return max(1, min(df.rdd.getNumPartitions(), df.sparkSession.sparkContext.defaultParallelism))


def partition_skew(df) -> float:
    """Rows in ``df``'s largest partition over the mean partition."""
    from pyspark.sql import functions as F

    n_parts = df.rdd.getNumPartitions()
    rows = [r[0] for r in df.groupBy(F.spark_partition_id()).count().select("count").collect()]
    return max(rows, default=0) / max(1e-9, sum(rows) / max(1, n_parts))
