"""Crawl-state persistence: snapshot-per-wave tables (frontier, seen,
documents, metrics) with resume.

Production layout is Iceberg — one snapshot committed per wave, resume =
``VERSION AS OF``; snapshot expiry replaces the reference's Redis orphan
TTL (extensions/scheduler_queue.py:52-121, SCHEDULER_KEY_ORPHAN_AGE).
This sandbox has no Iceberg runtime jars, so the store is plain parquet
with a manifest directory: one directory per committed wave, same resume
contract.

The store interface is what ``ParquetStateStore`` implements; the wave
loop (plans/crawl.py) calls write(df, name, wave), write_delta(df, name,
wave), rows(name, wave), read(name, wave), read_accumulated(name, up_to),
lineage(name) and latest_wave(name).
"""

from __future__ import annotations

import json
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ParquetStateStore:
    """Parquet state store (Iceberg-snapshot analog).

    Layout: {root}/{name}/wave={w}/part-*.parquet plus
    {root}/manifests/{name}/wave={w}.json marking committed waves —
    a write is visible to resume only after its manifest lands, which
    makes half-written waves invisible (the snapshot-commit analog).

    A write keeps the frame's own partitioning, so a small wave delta
    (AQE-coalesced upstream) is one file; the manifest records the
    schema, and every read passes it, so no read runs a footer-inference
    job. ``n_buckets`` is accepted for existing callers and unused: a
    path-based parquet read carries no bucket spec, so a bucketed layout
    co-partitions nothing.
    """

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        self.spark = spark
        self.root = Path(root)

    def _table(self, name: str) -> Path:
        return self.root / name

    def _manifest(self, name: str, wave: int) -> Path:
        return self.root / "manifests" / name / f"wave={wave}.json"

    def write(self, df: DataFrame, name: str, wave: int, meta: dict | None = None) -> DataFrame:
        path = self._table(name) / f"wave={wave}"
        # an empty frame still writes one empty file carrying the schema
        df.write.mode("overwrite").parquet(str(path))
        m = self._manifest(name, wave)
        m.parent.mkdir(parents=True, exist_ok=True)
        m.write_text(
            json.dumps({
                "wave": wave,
                "schema": df.schema.json(),
                "stats": self._file_stats(path),
                **(meta or {}),
            })
        )
        return self.spark.read.schema(df.schema).parquet(str(path))

    def write_delta(self, df: DataFrame, name: str, wave: int, meta: dict | None = None) -> DataFrame:
        """Append-only commit: the wave directory holds ONLY this wave's
        delta (e.g. the fingerprints scheduled this wave), never the full
        accumulated table — O(delta) I/O per wave instead of O(seen),
        the Redis-SADD / Iceberg-append analog. Re-writing the same wave
        overwrites its directory, so wave replay after a crash is
        idempotent. Returns the read-back (lineage-truncated) delta."""
        return self.write(df, name, wave, meta={**(meta or {}), "delta": True})

    @staticmethod
    def _file_stats(path: Path) -> dict:
        """The wave's lineage for the manifest (Iceberg manifest-entry
        analog): rows/bytes/files, read from parquet footers driver-side —
        no extra Spark job."""
        import pyarrow.parquet as pq

        stats = {"rows": 0, "bytes": 0, "files": 0}
        for f in sorted(path.glob("*.parquet")):
            stats["rows"] += pq.ParquetFile(f).metadata.num_rows
            stats["bytes"] += f.stat().st_size
            stats["files"] += 1
        return stats

    def lineage(self, name: str) -> list[dict]:
        """Committed per-wave lineage records: [{wave, rows, bytes, files},
        ...] across all manifests."""
        return [
            {"wave": w, **json.loads(self._manifest(name, w).read_text())["stats"]}
            for w in self.committed_waves(name)
        ]

    def rows(self, name: str, wave: int) -> int:
        """Rows committed for ``name`` at ``wave``, from its manifest's
        footer stats: a count that runs no Spark job."""
        return json.loads(self._manifest(name, wave).read_text())["stats"]["rows"]

    def _schema(self, name: str, wave: int) -> StructType:
        meta = json.loads(self._manifest(name, wave).read_text())
        return StructType.fromJson(json.loads(meta["schema"]))

    def read_accumulated(self, name: str, up_to: int | None = None) -> DataFrame:
        """Union of all committed delta waves ≤ ``up_to`` (default: all).
        Deltas committed past ``up_to`` — e.g. a seen-delta from a wave
        whose frontier commit never landed — are excluded, which is what
        makes torn-state resume correct: the replayed wave re-marks them.
        """
        waves = [w for w in self.committed_waves(name) if up_to is None or w <= up_to]
        if not waves:
            raise FileNotFoundError(f"no committed wave for state table {name!r}")
        paths = [str(self._table(name) / f"wave={w}") for w in waves]
        return self.spark.read.schema(self._schema(name, waves[-1])).parquet(*paths)

    def compact(self, name: str, up_to: int | None = None) -> int:
        """Merge committed deltas ≤ ``up_to`` (default: all) into the
        newest such wave's directory and drop the older ones (Iceberg
        rewrite_data_files analog). Bounds the file count for long
        crawls; returns waves merged away.

        On possibly-torn state (this table committed ahead of a sibling,
        e.g. a seen-delta whose frontier commit never landed), pass the
        sibling's latest wave as ``up_to`` — compacting past the resume
        cut would otherwise fold the torn delta into an older wave and
        defeat ``read_accumulated``'s exclusion of it."""
        waves = [w for w in self.committed_waves(name) if up_to is None or w <= up_to]
        if len(waves) <= 1:
            return 0
        latest = waves[-1]
        acc = self.read_accumulated(name, up_to=latest).localCheckpoint(eager=True)
        self.write(acc, name, latest, meta={"delta": True, "compacted_through": latest})
        for w in waves[:-1]:
            self._manifest(name, w).unlink(missing_ok=True)
            shutil.rmtree(self._table(name) / f"wave={w}", ignore_errors=True)
        return len(waves) - 1

    def committed_waves(self, name: str) -> list[int]:
        mdir = self.root / "manifests" / name
        if not mdir.exists():
            return []
        waves = []
        for p in mdir.glob("wave=*.json"):
            m = re.match(r"wave=(\d+)\.json", p.name)
            if m:
                waves.append(int(m.group(1)))
        return sorted(waves)

    def latest_wave(self, name: str) -> int | None:
        waves = self.committed_waves(name)
        return waves[-1] if waves else None

    def read(self, name: str, wave: int | None = None) -> DataFrame:
        if wave is None:
            wave = self.latest_wave(name)
        if wave is None:
            raise FileNotFoundError(f"no committed wave for state table {name!r}")
        path = self._table(name) / f"wave={wave}"
        return self.spark.read.schema(self._schema(name, wave)).parquet(str(path))

    def expire(self, name: str, keep_last: int = 2) -> int:
        """Drop all but the newest ``keep_last`` waves (snapshot expiry /
        orphan-TTL analog). Returns number of waves removed."""
        waves = self.committed_waves(name)
        drop = waves[:-keep_last] if keep_last > 0 else waves
        for w in drop:
            self._manifest(name, w).unlink(missing_ok=True)
            shutil.rmtree(self._table(name) / f"wave={w}", ignore_errors=True)
        return len(drop)
