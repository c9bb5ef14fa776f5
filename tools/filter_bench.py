"""Seen-filter scale microbench: ShardedBloom vs CuckooFilter.

Evidences the 10^10-URL frontier design point without Spark: build/probe
throughput, bytes/key, and measured FPP at driver-realistic key counts.
At 10^10 keys neither filter lives on one host — both shard by
``pmod(url_hash, n_shards)`` (ShardedBloom natively; cuckoo via one
filter per shard) so each executor broadcasts only its shard — this
bench sizes ONE shard.

Usage: python tools/filter_bench.py [n_keys] (default 100_000_000)
Prints one JSON line per filter.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

sys.path.insert(0, ".")

from searchgov_spider_spark.operators.cuckoo import CuckooFilter  # noqa: E402
from searchgov_spider_spark.operators.dedup import BloomSpec, ShardedBloom  # noqa: E402


def bench(n_keys: int) -> None:
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=n_keys, dtype=np.int64)
    probes_neg = rng.integers(-(2**62), 2**62, size=min(n_keys, 10_000_000), dtype=np.int64)

    # -- bloom (the engine default: fpp 2%, single shard here) --------------
    spec = BloomSpec.for_capacity(n_keys, fpp=0.02)
    bloom = ShardedBloom(spec, {})
    t0 = time.monotonic()
    # same batching as build_bloom's executor-side partial builder
    for lo in range(0, n_keys, 4_000_000):
        bloom.add(keys[lo : lo + 4_000_000])
    t_build = time.monotonic() - t0
    bits = bloom.shards[0]
    t0 = time.monotonic()
    hits = bloom.contains(probes_neg)
    t_probe = time.monotonic() - t0
    print(json.dumps({
        "filter": "sharded_bloom", "n_keys": n_keys,
        "bytes_per_key": round(bits.nbytes / n_keys, 3),
        "mem_mb": round(bits.nbytes / 2**20, 1),
        "build_keys_per_sec": round(n_keys / t_build),
        "probe_keys_per_sec": round(len(probes_neg) / t_probe),
        "measured_fpp": round(float(hits.mean()), 6),
        "deletable": False,
    }))

    # -- cuckoo (16-bit fingerprints, 4 slots, 0.84 target load) ------------
    cf = CuckooFilter(capacity=n_keys)
    t0 = time.monotonic()
    for lo in range(0, n_keys, 4_000_000):
        # the keyspace is pre-deduped (seen-set deltas are unique by
        # construction), matching the engine's O(delta) multiset adds
        cf.add(keys[lo : lo + 4_000_000])
    t_build = time.monotonic() - t0
    t0 = time.monotonic()
    hits = cf.contains(probes_neg)
    t_probe = time.monotonic() - t0
    t0 = time.monotonic()
    cf.delete(keys[:1_000_000])
    t_del = time.monotonic() - t0
    print(json.dumps({
        "filter": "cuckoo", "n_keys": n_keys,
        "bytes_per_key": round(cf.table.nbytes / n_keys, 3),
        "mem_mb": round(cf.table.nbytes / 2**20, 1),
        "load_factor": round(cf.n_items / (cf.n_buckets * 4), 3),
        "build_keys_per_sec": round(n_keys / t_build),
        "probe_keys_per_sec": round(len(probes_neg) / t_probe),
        "delete_keys_per_sec": round(1_000_000 / t_del),
        "measured_fpp": round(float(hits.mean()), 6),
        "deletable": True,
    }))


if __name__ == "__main__":
    bench(int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000)
