"""Crawl-state persistence: the frontier, seen and documents tables,
committed once per wave, with resume.

Production layout is Iceberg — one snapshot committed per wave, resume =
``VERSION AS OF``; snapshot expiry replaces the reference's Redis orphan
TTL (extensions/scheduler_queue.py:52-121, SCHEDULER_KEY_ORPHAN_AGE).
Iceberg needs runtime jars the package does not bundle, so the store is
plain parquet plus one JSON commit record per wave, with the same
contract: a commit is one atomic rename, and a reader opens only files
that a commit names.

The wave loop (plans/crawl.py) calls write(df, name, wave) and
write_delta(df, name, wave) for each table, then commit(wave, metrics);
resume reads the newest commit: newest(), read(name, wave),
read_accumulated(name, up_to) and rows(name, wave).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LAYOUT = 1


class ParquetStateStore:
    """Parquet state store (Iceberg-snapshot analog).

    Layout: ``{root}/{name}/{wave}-{token}/part-*.parquet``, one fresh
    attempt directory per write, and ``{root}/commits/wave={c}.json``,
    one record per commit, where ``c`` counts the waves completed (commit
    0 holds the initial frontier). A record names every live file of each
    table (path relative to the root, the commit that added it, rows and
    bytes from its footer) with the table's schema, plus the wave's
    metrics and the layout version. It is written to a temp file and
    renamed into place, so a crash leaves the previous commit as the
    newest, and every write it made since is garbage no reader opens.

    A write keeps the frame's own partitioning, so a small wave delta
    (AQE-coalesced upstream) is one file; every read passes the committed
    schema, so no read runs a footer-inference job. ``n_buckets`` is
    accepted for existing callers and unused: a path-based parquet read
    carries no bucket spec, so a bucketed layout co-partitions nothing.
    """

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        self.spark = spark
        self.root = Path(root)
        if (self.root / "manifests").is_dir():
            raise ValueError(
                f"{root} holds crawl state in the older per-table manifests/ layout, which "
                "this store cannot read; finish that crawl with the version that wrote it, "
                "or restart it in a new state dir"
            )
        self._staged: dict[str, dict] = {}

    def _commit_path(self, wave: int) -> Path:
        return self.root / "commits" / f"wave={wave}.json"

    def _commits(self) -> list[int]:
        names = (p.name for p in (self.root / "commits").glob("wave=*.json"))
        return sorted(int(m[1]) for n in names if (m := re.fullmatch(r"wave=(\d+)\.json", n)))

    def newest(self) -> int | None:
        """The newest committed wave, or None for a store with no commit."""
        return max(self._commits(), default=None)

    def record(self, wave: int | None = None) -> dict:
        """Commit record ``wave`` (default: the newest)."""
        wave = self.newest() if wave is None else wave
        if wave is None:
            raise FileNotFoundError(f"no committed wave under {self.root}")
        rec = json.loads(self._commit_path(wave).read_text())
        if rec["layout"] != LAYOUT:
            raise ValueError(f"commit {wave} has state layout {rec['layout']}, not {LAYOUT}")
        return rec

    def write(self, df: DataFrame, name: str, wave: int) -> tuple[DataFrame, int]:
        """Write ``df`` as table ``name``'s content in commit ``wave``,
        replacing what the table held. The files stay invisible to every
        reader until ``commit(wave)``. Returns the read-back
        (lineage-truncated) frame and its rows, from the footers."""
        import pyarrow.parquet as pq

        path = self.root / name / f"{wave}-{uuid.uuid4().hex[:8]}"
        # an empty frame still writes one empty file carrying the schema
        df.write.parquet(str(path))
        files = [
            {"path": f.relative_to(self.root).as_posix(), "wave": wave,
             "rows": pq.ParquetFile(f).metadata.num_rows, "bytes": f.stat().st_size}
            for f in sorted(path.glob("*.parquet"))
        ]
        self._staged[name] = {"schema": df.schema.json(), "files": files, "delta": False}
        return self.spark.read.schema(df.schema).parquet(str(path)), sum(f["rows"] for f in files)

    def write_delta(self, df: DataFrame, name: str, wave: int) -> tuple[DataFrame, int]:
        """Append-only write: commit ``wave`` adds ``df``'s files to the
        table's earlier ones (e.g. the fingerprints scheduled this wave) —
        O(delta) I/O per wave instead of O(seen), the Redis-SADD /
        Iceberg-append analog."""
        out = self.write(df, name, wave)
        self._staged[name]["delta"] = True
        return out

    def commit(self, wave: int, metrics: dict | None = None) -> None:
        """Commit the writes made since the last commit as wave ``wave``,
        on top of commit ``wave - 1``; tables not written keep their files.
        Re-committing a wave (a replay after a crash) replaces its record."""
        self._commit(wave, self.record(wave - 1)["tables"] if wave else {}, metrics)

    def _commit(self, wave: int, tables: dict, metrics: dict | None) -> None:
        for name, staged in self._staged.items():
            kept = tables[name]["files"] if staged["delta"] and name in tables else []
            tables[name] = {"schema": staged["schema"], "files": kept + staged["files"]}
        self._staged = {}
        path = self._commit_path(wave)
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_name(path.name + ".tmp")
        tmp.write_text(json.dumps({"layout": LAYOUT, "wave": wave, "tables": tables, "metrics": metrics}))
        os.replace(tmp, path)  # rename-commit: never torn

    def _table(self, name: str, wave: int | None) -> tuple[int, dict]:
        rec = self.record(wave)
        if name not in rec["tables"]:
            raise FileNotFoundError(f"commit {rec['wave']} holds no state table {name!r}")
        return rec["wave"], rec["tables"][name]

    def _read(self, table: dict, files: list[dict]) -> DataFrame:
        schema = StructType.fromJson(json.loads(table["schema"]))
        return self.spark.read.schema(schema).parquet(*(str(self.root / f["path"]) for f in files))

    def read(self, name: str, wave: int | None = None) -> DataFrame:
        """The files table ``name`` gained in commit ``wave`` (default: the
        newest): a snapshot table's content (``read("frontier", w)`` is the
        frontier before wave ``w``), a delta table's delta."""
        wave, table = self._table(name, wave)
        return self._read(table, [f for f in table["files"] if f["wave"] == wave])

    def read_accumulated(self, name: str, up_to: int | None = None) -> DataFrame:
        """Every live file of table ``name`` in commit ``up_to`` (default:
        the newest): ``read_accumulated("seen", up_to=w)`` is the seen set
        after ``w`` waves."""
        table = self._table(name, up_to)[1]
        return self._read(table, table["files"])

    def rows(self, name: str, wave: int | None = None) -> int:
        """Rows of ``read_accumulated(name, wave)``, from the commit record."""
        return sum(f["rows"] for f in self._table(name, wave)[1]["files"])

    def compact(self, name: str) -> int:
        """Rewrite table ``name`` of the newest commit as one write of
        ⌈bytes / spark.sql.files.maxPartitionBytes⌉ files (one for a small
        table) and re-commit that record with it (Iceberg rewrite_data_files
        analog), between waves. Older records keep the old files until
        ``expire``. Returns the number of files replaced."""
        rec = self.record()
        files = self._table(name, rec["wave"])[1]["files"]
        if len(files) <= 1:
            return 0
        split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        n_files = -(-sum(f["bytes"] for f in files) // split)
        self.write(self.read_accumulated(name).coalesce(n_files), name, rec["wave"])
        self._commit(rec["wave"], rec["tables"], rec["metrics"])
        return len(files)

    def expire(self, keep_last: int = 2) -> int:
        """Between waves, drop all but the newest ``keep_last`` commit
        records, then every attempt directory no kept record names —
        superseded snapshots, compacted deltas, writes that never committed
        — and leftover temp records (snapshot expiry / orphan-TTL analog).
        Returns the number of records dropped."""
        commits = self._commits()
        drop = commits[: max(0, len(commits) - keep_last)]
        for w in drop:
            self._commit_path(w).unlink()
        live = {
            Path(f["path"]).parent.as_posix()
            for w in commits[len(drop):]
            for table in self.record(w)["tables"].values()
            for f in table["files"]
        }
        for p in self.root.glob("*/*"):
            if p.parent.name == "commits":
                if p.suffix == ".tmp":
                    p.unlink()
            elif p.relative_to(self.root).as_posix() not in live:
                shutil.rmtree(p)
        return len(drop)
