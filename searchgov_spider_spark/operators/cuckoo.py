"""Cuckoo URL-seen filter — the deletable half of "bloom/cuckoo".

The bloom path (operators/dedup.py) is append-only membership; this is
the standard cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — public
algorithm), which additionally supports O(1) DELETE. Deletion maps to
re-crawl semantics: expiring a URL from seen-state (P5
orphan-TTL cleanup, sitemap re-monitoring) evicts one fingerprint
instead of forcing a full filter rebuild, which a bloom cannot do.

Semantics are a MULTISET, per the paper's deletion contract: every
``add`` physically stores one fingerprint copy (no membership-based
insert skipping — skipping a colliding key would make a later delete of
that key evict some OTHER live key's only copy, a false negative), and
``delete`` is safe exactly for keys added at least as many times as
deleted. Callers uphold that contract by deleting only members of the
seen table the filter was built from (driver_queries.q_expire_recrawl
expires a subset of its seen set).

Plug surface matches ShardedBloom where ``dedupe_against_seen`` consumes it:
``contains(np.ndarray) -> bool[]`` and pickle-for-broadcast, so
``dedupe_against_seen(candidates, seen, bloom=cuckoo_filter)`` works
unchanged (no false negatives; FPP ~ 2*slots/2^fp_bits ~ 1.2e-4 at
16-bit fingerprints — far tighter than the 2% bloom default).

Scale shape: the table is ``n_buckets x 4`` uint16 ~ 2.4 bytes/key at
0.84 load — a 10^9-key filter is ~2.4 GB, broadcast-viable sharded the
same way as ShardedBloom (shard by url_hash before construction).
Batch insert is vectorized numpy (first-writer-wins per bucket slot per
pass); only eviction chains fall back to the sequential kick loop, and
an exhausted chain parks the in-hand fingerprint in a bounded stash
(checked by contains/delete) instead of dropping it — over-capacity
raises only AFTER the fingerprint is safely stashed, so a caught error
leaves a consistent filter.
"""

from __future__ import annotations

import math

import numpy as np

from .dedup import _splitmix64

SLOTS = 4
MAX_KICKS = 500
MAX_STASH = 64  # parked fingerprints tolerated before declaring over-capacity
LOAD = 0.84  # target slot occupancy at ``capacity`` items


class CuckooFilter:
    """Single-table cuckoo filter over int64 url_hash values."""

    def __init__(self, capacity: int):
        n = max(8, int(capacity / (SLOTS * LOAD)))
        self.n_buckets = 1 << max(3, math.ceil(math.log2(n)))
        self._mask = np.uint64(self.n_buckets - 1)
        self.table = np.zeros((self.n_buckets, SLOTS), dtype=np.uint16)
        self.n_items = 0
        self.stash: list[tuple[int, int]] = []  # (bucket, fingerprint) overflow

    # -- hashing ------------------------------------------------------------

    def _fp_and_index(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        m = _splitmix64(h)
        fp = (m >> np.uint64(48)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty slot
        i1 = (m & self._mask).astype(np.int64)
        return fp, i1

    def _alt_index(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key cuckoo: alt = i XOR hash(fp); involutive, so the same
        # formula maps either bucket to the other
        fh = _splitmix64(fp.astype(np.uint64))
        return (np.asarray(i, dtype=np.int64) ^ (fh & self._mask).astype(np.int64)).astype(np.int64)

    # -- queries ------------------------------------------------------------

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_index(hashes)
        i2 = self._alt_index(i1, fp)
        f = fp[:, None]
        hit = ((self.table[i1] == f) | (self.table[i2] == f)).any(axis=1)
        for bi, bf in self.stash:  # stash buckets are canonicalized to min(i, alt)
            hit |= (fp == bf) & ((i1 == bi) | (i2 == bi))
        return hit

    # -- batch insert -------------------------------------------------------

    def add(self, hashes: np.ndarray) -> int:
        """Insert a batch (multiset: one stored copy per call per key) and
        return the count inserted. ``n_items`` is updated as copies land,
        so a mid-batch over-capacity error still leaves consistent
        accounting and loses nothing (the in-hand fingerprint is stashed
        before the raise)."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return 0
        fp, i1 = self._fp_and_index(hashes)
        i2 = self._alt_index(i1, fp)
        pending = np.ones(len(hashes), dtype=bool)
        for idx in (i1, i2):  # vectorized passes: home bucket, then alt
            for s in range(SLOTS):
                if not pending.any():
                    break
                cand = np.flatnonzero(pending & (self.table[idx, s] == 0))
                if len(cand) == 0:
                    continue
                # first writer wins per bucket in this pass
                _, first = np.unique(idx[cand], return_index=True)
                win = cand[first]
                self.table[idx[win], s] = fp[win]
                pending[win] = False
        inserted = int((~pending).sum())
        self.n_items += inserted
        for j in np.flatnonzero(pending):  # rare: full buckets -> kick loop
            self._insert_with_eviction(int(i1[j]), np.uint16(fp[j]))
            inserted += 1
        return inserted

    def _insert_with_eviction(self, i: int, f: np.uint16) -> None:
        """Kick-chain insert; counts the copy in ``n_items`` on every exit
        path. An exhausted chain stashes the in-hand fingerprint (nothing
        is ever dropped) and raises only once the stash itself overflows."""
        for kick in range(MAX_KICKS):
            row = self.table[i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                self.table[i, empty[0]] = f
                self.n_items += 1
                return
            # deterministic victim slot (no RNG: reproducible runs)
            s = (int(f) + kick) % SLOTS
            f, self.table[i, s] = self.table[i, s], f
            i = int(self._alt_index(np.array([i]), np.array([f], dtype=np.uint16))[0])
        alt = int(self._alt_index(np.array([i]), np.array([f], dtype=np.uint16))[0])
        self.stash.append((min(i, alt), int(f)))
        self.n_items += 1
        if len(self.stash) > MAX_STASH:
            raise RuntimeError(
                "cuckoo filter over capacity: eviction stash exhausted — "
                "rebuild with a larger capacity (filter state remains consistent)"
            )

    # -- delete -------------------------------------------------------------

    def delete(self, hashes: np.ndarray) -> int:
        """Remove one fingerprint copy per present hash (the
        bloom-impossible operation); safe for keys that were actually
        added (see module docstring). Returns how many were removed.
        Vectorized like add(): per (bucket-set, slot) pass with
        first-writer-wins per bucket, so two keys sharing a bucket each
        clear their own copy; the rare leftovers fall back to the exact
        per-key path."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return 0
        fp, i1 = self._fp_and_index(hashes)
        i2 = self._alt_index(i1, fp)
        pending = np.ones(len(hashes), dtype=bool)
        removed = 0
        for idx in (i1, i2):
            for s in range(SLOTS):
                if not pending.any():
                    break
                cand = np.flatnonzero(pending & (self.table[idx, s] == fp))
                if len(cand) == 0:
                    continue
                _, first = np.unique(idx[cand], return_index=True)
                win = cand[first]
                self.table[idx[win], s] = 0
                pending[win] = False
                removed += len(win)
        for j in np.flatnonzero(pending):  # same-bucket same-pass contention
            f = int(fp[j])
            done = False
            for i in (int(i1[j]), int(i2[j])):
                slots = np.flatnonzero(self.table[i] == f)
                if len(slots):
                    self.table[i, slots[0]] = 0
                    removed += 1
                    done = True
                    break
            if not done:
                key = (min(int(i1[j]), int(i2[j])), f)
                if key in self.stash:
                    self.stash.remove(key)
                    removed += 1
        self.n_items -= removed
        return removed

    # -- broadcast pickling -------------------------------------------------

    def __getstate__(self):
        return {
            "n_buckets": self.n_buckets,
            "table": self.table.tobytes(),
            "n_items": self.n_items,
            "stash": self.stash,
        }

    def __setstate__(self, state):
        self.n_buckets = state["n_buckets"]
        self._mask = np.uint64(self.n_buckets - 1)
        self.table = (
            np.frombuffer(state["table"], dtype=np.uint16)
            .reshape(self.n_buckets, SLOTS)
            .copy()
        )
        self.n_items = state["n_items"]
        self.stash = list(state.get("stash", []))


def build_cuckoo(df, capacity: int = 1 << 20) -> CuckooFilter:
    """Driver-side build from a DataFrame's ``url_hash`` column. Arrow transfer
    (8 B/row, no pandas copy), inserted in bounded chunks so the per-add
    working set stays flat regardless of input size. The column is
    expected pre-deduped (the seen table is keyed by url_hash); duplicate
    rows would store duplicate copies, per multiset semantics. For hash
    sets past driver memory, shard the column by ``pmod(url_hash,
    n_shards)`` first and build per-shard filters."""
    cf = CuckooFilter(capacity)
    tbl = df.select("url_hash").toArrow()
    for batch in tbl.to_batches(max_chunksize=4_000_000):
        cf.add(batch.column(0).to_numpy(zero_copy_only=False))
    return cf
