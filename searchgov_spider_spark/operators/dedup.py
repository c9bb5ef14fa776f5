"""Deduplication operators D1-D3 and D5 (SURVEY.md §2.4). D4, the emit-side
dedup, needs no operator: D1 schedules each canonical URL once, so each is
fetched and emitted once.

D1 — URL-seen dedup (the scaling-critical operator). Two stages:
  1. probabilistic pre-filter: a sharded numpy Bloom filter built
     distributedly (one partial bitmap per shard via mapInPandas, OR'd on
     the driver) and broadcast; membership is checked in a vectorized
     pandas UDF. Bloom negatives are definitely new and skip the exact
     join; only the suspects (the already-seen candidates plus the
     filter's false positives) go into it.
  2. exact ``left_anti`` join on (url_hash, canon_url) — joining on the
     64-bit hash alone would drop distinct URLs on hash collisions
     (expected ≈3 collisions at 10^10 rows), so canon_url equality rides
     along; the join still hash-partitions on url_hash first.

Reference: job_state/dupefilter.py:8-25 (Redis SADD fingerprint set),
pipelines.py:173-188 (emit-side dedup), sitemap_monitor.py:227-254 (set
diff). 'First SADD wins' arrival-order semantics are reproduced by
``dedupe_intra_wave``'s min_by on the discovery ordering.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain construction)."""
    x = (x + _GOLDEN).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _MIX1
    x ^= x >> np.uint64(27)
    x *= _MIX2
    x ^= x >> np.uint64(31)
    return x


@dataclass
class BloomSpec:
    n_bits: int
    n_hashes: int
    n_shards: int

    @classmethod
    def for_capacity(cls, capacity: int, fpp: float, n_shards: int = 1) -> "BloomSpec":
        capacity = max(1, capacity // max(1, n_shards))
        n_bits = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 63) // 64 * 64
        n_hashes = max(1, round(n_bits / capacity * math.log(2)))
        return cls(n_bits=n_bits, n_hashes=min(n_hashes, 16), n_shards=n_shards)


def _positions(hashes: np.ndarray, spec: BloomSpec) -> np.ndarray:
    """(len(hashes), n_hashes) bit positions via double hashing."""
    h = hashes.astype(np.uint64)
    h1 = _splitmix64(h)
    h2 = _splitmix64(h ^ _GOLDEN) | np.uint64(1)
    i = np.arange(spec.n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(spec.n_bits)).astype(np.int64)


def _empty_bits(spec: BloomSpec) -> np.ndarray:
    return np.zeros(spec.n_bits // 8, dtype=np.uint8)


# Position batches are computed per 64k-hash chunk: the monolithic
# (n_rows x n_hashes) intermediate for a 700k-row wave is ~70 MB of
# DRAM-bound allocations, which measured 35% slower steady-state in the
# live driver process than cache-resident ~3 MB chunks — and, worse,
# intermittently 5-10x slower when the co-resident JVM is collecting
# (both contend for memory bandwidth; small chunks bound the exposure).
_SCATTER_CHUNK = 65536


def _add_to_bits(bits: np.ndarray, hashes: np.ndarray, spec: BloomSpec) -> None:
    # Dense adds (position density >= 1/32) go through a bool scatter +
    # packbits: ~6x faster than the unbuffered np.bitwise_or.at scatter
    # when most of the bitmap is touched (the official 2M-frontier wave:
    # 4.2M positions into 32.6M bits, 54 ms dense vs 371 ms sparse).
    # Sparse adds keep the .at path: it touches only the n_bits/8 output
    # bitmap, while the dense path allocates and walks an n_bits bool —
    # at a 48M-capacity spec (390M bits, density 0.011) sparse measured
    # 280 ms vs 500-1000 ms dense offline, and the 8x-smaller footprint
    # bounds page-fault stalls when the box is under memory pressure
    # (the old 1/512 threshold picked dense there and the big-wave bench
    # recorded multi-second bloom_delta phases).
    if len(hashes) * spec.n_hashes >= spec.n_bits // 32:
        dense = np.zeros(spec.n_bits, dtype=bool)
        for i in range(0, len(hashes), _SCATTER_CHUNK):
            dense[_positions(hashes[i : i + _SCATTER_CHUNK], spec).ravel()] = True
        np.bitwise_or(bits, np.packbits(dense, bitorder="little"), out=bits)
    else:
        for i in range(0, len(hashes), _SCATTER_CHUNK):
            pos = _positions(hashes[i : i + _SCATTER_CHUNK], spec).ravel()
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _contains(bits: np.ndarray, hashes: np.ndarray, spec: BloomSpec) -> np.ndarray:
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    pos = _positions(hashes, spec)
    got = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=1)


class ShardedBloom:
    """Bloom filter sharded by ``url_hash % n_shards``.

    Sharding bounds per-shard bitmap size so the broadcast stays within
    executor memory at large capacities; with n_shards=1 it degenerates to a
    single bloom. The serialized form is a dict shard -> bytes.
    """

    def __init__(self, spec: BloomSpec, shards: dict[int, np.ndarray]):
        self.spec = spec
        self.shards = shards

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        shard_of = (hashes % np.uint64(self.spec.n_shards)).astype(np.int64)
        out = np.zeros(len(hashes), dtype=bool)
        for s, bits in self.shards.items():
            m = shard_of == s
            if m.any():
                out[m] = _contains(bits, hashes[m], self.spec)
        return out

    def add(self, hashes: np.ndarray) -> None:
        """Set the bits of ``hashes`` in place, each in shard
        ``hash % n_shards`` (a missing shard starts empty)."""
        hashes = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        n_shards = self.spec.n_shards
        if n_shards == 1:
            groups = [(0, hashes)]
        else:
            shard_of = (hashes % np.uint64(n_shards)).astype(np.int64)
            groups = [(int(s), hashes[shard_of == s]) for s in np.unique(shard_of)]
        for s, h in groups:
            if s not in self.shards:
                self.shards[s] = _empty_bits(self.spec)
            _add_to_bits(self.shards[s], h, self.spec)

    def merge(self, other: "ShardedBloom") -> "ShardedBloom":
        """OR another bloom of the SAME spec into this one (incremental
        maintenance: per-wave delta blooms merge into the cumulative
        filter — the reference's Redis SADD is exactly this, SADD being
        an incremental insert into persistent membership state)."""
        if other.spec != self.spec:
            raise ValueError("bloom merge requires identical specs")
        for s, bits in other.shards.items():
            if s in self.shards:
                np.bitwise_or(self.shards[s], bits, out=self.shards[s])
            else:
                self.shards[s] = bits.copy()
        return self

    def __getstate__(self):
        return {"spec": self.spec, "shards": {k: v.tobytes() for k, v in self.shards.items()}}

    def __setstate__(self, state):
        self.spec = state["spec"]
        self.shards = {k: np.frombuffer(v, dtype=np.uint8).copy() for k, v in state["shards"].items()}


def build_bloom(
    df: DataFrame,
    hash_col: str = "url_hash",
    capacity: int = 1 << 20,
    fpp: float = 0.01,
    n_shards: int = 1,
    spec: BloomSpec | None = None,
) -> ShardedBloom:
    """Build a ShardedBloom from ``df[hash_col]`` distributedly.

    Partial bitmaps are built per partition (mapInPandas, no row shuffle)
    and OR-reduced on the driver. Pass ``spec`` to build a delta bloom
    mergeable into an existing filter of the same spec (incremental
    per-wave maintenance — full rebuilds are a resume-time event only).
    """
    if spec is None:
        spec = BloomSpec.for_capacity(capacity, fpp, n_shards)

    def partial_bits(batches):
        """One partial bitmap per shard per PARTITION (accumulated across
        all Arrow batches of the partition) — no shuffle of row data; the
        bitmap is the map-side combine."""
        acc = ShardedBloom(spec, {})
        for pdf in batches:
            acc.add(pdf[hash_col].to_numpy(dtype=np.int64))
        if acc.shards:
            yield pd.DataFrame(
                {"shard": list(acc.shards), "bits": [b.tobytes() for b in acc.shards.values()]}
            )

    # cap the number of partial producers: driver receives
    # n_producers x n_shards x (n_bits/8) bytes, so at large capacities
    # fewer, bigger partials beat one per task (the hash column is 8
    # bytes/row — coalesce is cheap, no shuffle). Per-wave DELTAS go
    # through build_delta_bloom's driver-side path instead, so this full
    # build only runs at resume/engage time where wall-clock parallelism
    # matters more than transfer volume.
    hashes = df.select(F.col(hash_col))
    n_parts = hashes.rdd.getNumPartitions()
    max_producers = max(2, min(n_parts, (256 << 20) // max(1, spec.n_bits // 8)))
    if n_parts > max_producers:
        hashes = hashes.coalesce(max_producers)
    # Arrow toPandas (not collect): binary partials stream as Arrow
    # batches — ~2x faster driver transfer than py4j row collection
    parts = hashes.mapInPandas(partial_bits, schema="shard int, bits binary").toPandas()
    # driver-side OR-reduce: n_partitions x n_shards bitmaps, never row data
    bloom = ShardedBloom(spec, {s: _empty_bits(spec) for s in range(spec.n_shards)})
    for s, bits in zip(parts["shard"], parts["bits"]):
        bloom.merge(ShardedBloom(spec, {int(s): np.frombuffer(bits, dtype=np.uint8)}))
    return bloom


def build_bloom_from_hashes(h: np.ndarray, spec: BloomSpec) -> ShardedBloom:
    """Driver-side bloom build from an ALREADY-COLLECTED hash array.

    Callers that already hold a wave's 8 B/row fingerprints on the driver
    (bench.py's wave replica collects once for count + delta + lineage)
    reuse that array here instead of paying a second scan."""
    bloom = ShardedBloom(spec, {s: _empty_bits(spec) for s in range(spec.n_shards)})
    bloom.add(h)
    return bloom


# a delta smaller than this many rows is built driver-side (8 B/row ->
# <= 16 MB of hashes over Arrow, cheaper than bitmap partials)
DRIVER_BLOOM_MAX_ROWS = 2_000_000


def build_delta_bloom(df: DataFrame, spec: BloomSpec, n_rows: int | None = None) -> ShardedBloom:
    """Per-wave delta bloom of the cumulative filter's ``spec`` over
    ``df.url_hash``.

    For a small known row count the raw 8-byte hashes come to the driver
    via Arrow (a few MB for a politeness-bounded wave) and their bits are
    set there: for a delta whose bitmap is larger than its hash column
    this moves less data than per-partition partial bitmaps, in one small
    job instead of a coalesce + bitmap reduce. Larger deltas take the
    distributed ``build_bloom``."""
    if n_rows is not None and n_rows <= DRIVER_BLOOM_MAX_ROWS:
        h = df.select("url_hash").toArrow().column(0).to_numpy()
        return build_bloom_from_hashes(h, spec)
    return build_bloom(df, "url_hash", spec=spec)


def bloom_might_contain_udf(spark, bloom: ShardedBloom):
    """Vectorized membership predicate over a broadcast bloom."""
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(T.BooleanType())
    def might_contain(hashes: pd.Series) -> pd.Series:
        b = bc.value
        return pd.Series(b.contains(hashes.to_numpy(dtype=np.int64)))

    return might_contain


# A suspect set up to this many rows is broadcast to probe `seen`
# scan-side instead of shuffle-anti-joining it — ~8+40 B/row, so the
# cap keeps the broadcast around 100 MB.
BROADCAST_PROBE_MAX_ROWS = 2_000_000


def dedupe_against_seen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: ShardedBloom | None = None,
    candidates_hint_rows: int | None = None,
    seen_hint_rows: int | None = None,
) -> DataFrame:
    """D1: rows of ``candidates`` whose (url_hash, canon_url) is not in
    ``seen``.

    With a bloom, candidates that *might* be seen go through the exact
    anti-join while definite-new rows skip it entirely; the union of both
    branches preserves exactness (bloom has no false negatives).

    Join strategy for the exact check: the crawl loop's ``seen`` table
    grows monotonically (10^10 rows at the design point) while a wave's
    suspect set is politeness-budget-bounded, so a shuffle anti-join
    re-shuffles AND re-sorts the huge side every wave for a tiny probe.
    When the caller can bound the wave size (``candidates_hint_rows``,
    an upper bound on |suspects|) under BROADCAST_PROBE_MAX_ROWS — and
    ``seen`` is genuinely the big side (measured local crossover:
    balanced 1M-vs-1M favors the shuffle, 20M-vs-0.2M favors the probe
    1.5x and the gap grows with |seen|) — the check flips to two
    broadcast passes with ZERO shuffles of ``seen``: semi-join ``seen``
    against the broadcast suspects (a scan-side hash probe) to
    materialize the confirmed-seen keys, then broadcast-anti the
    suspects against those. Unhinted, oversized, or small-seen waves
    keep the shuffle anti-join.
    """
    keys = ["url_hash", "canon_url"]
    if bloom is None:
        return candidates.join(seen.select(*keys), keys, "left_anti")
    spark = candidates.sparkSession
    flagged = candidates.withColumn("_maybe_seen", bloom_might_contain_udf(spark, bloom)(F.col("url_hash")))
    definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspects = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    probe_pays = candidates_hint_rows is not None and candidates_hint_rows <= BROADCAST_PROBE_MAX_ROWS and (
        seen_hint_rows is None or seen_hint_rows >= 4 * max(1, candidates_hint_rows)
    )
    if probe_pays:
        confirmed = seen.select(*keys).join(
            F.broadcast(suspects.select(*keys)), keys, "left_semi"
        )
        checked = suspects.join(F.broadcast(confirmed), keys, "left_anti")
    else:
        checked = suspects.join(seen.select(*keys), keys, "left_anti")
    return definite_new.unionByName(checked)


def dedupe_intra_wave(
    candidates: DataFrame, order_cols: tuple[str, ...] = ("depth", "discovery_idx")
) -> DataFrame:
    """D3: one row per (url_hash, canon_url) within a wave, keeping the
    first-discovered row ('first SADD wins'). min_by over a struct of the
    ordering columns gives a deterministic winner — unlike dropDuplicates,
    whose survivor depends on partition arrival order."""
    keys = ("url_hash", "canon_url")
    others = [c for c in candidates.columns if c not in keys]
    ordering = F.struct(*[F.col(c) for c in order_cols], *[F.col(c) for c in others if c not in order_cols])
    packed = F.struct(*[F.col(c) for c in others])
    agged = (
        candidates.groupBy(*keys)
        .agg(F.min_by(packed, ordering).alias("_row"))
    )
    return agged.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])


def new_urls_diff(current: DataFrame, previous: DataFrame) -> DataFrame:
    """D5: sitemap diff — ``url`` values in current but not previous (EXCEPT)."""
    return current.select("url").distinct().join(previous.select("url"), "url", "left_anti")
