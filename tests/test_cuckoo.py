"""Cuckoo URL-seen filter: membership, FPP, delete, broadcast plug."""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from searchgov_spider_spark.operators.cuckoo import CuckooFilter, build_cuckoo


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)


def test_no_false_negatives_and_low_fpp():
    members = _hashes(50_000, 1)
    cf = CuckooFilter(capacity=64_000)
    cf.add(members)
    assert cf.contains(members).all()  # cuckoo filters never false-negative
    others = _hashes(50_000, 2)
    others = others[~np.isin(others, members)]
    fpp = cf.contains(others).mean()
    assert fpp < 0.01, fpp  # 16-bit fingerprints: expect ~1e-4


def test_add_is_multiset():
    """Every add stores its own copy (the paper's deletion contract: a
    membership-based insert skip would let delete(X) evict a colliding
    live key's only fingerprint). Re-add + delete round-trips exactly."""
    cf = CuckooFilter(capacity=20_000)
    h = _hashes(5_000, 3)
    n1 = cf.add(h)
    n2 = cf.add(h)  # second copies
    assert n1 == n2 == 5_000 and cf.n_items == 10_000
    assert cf.delete(h) == 5_000  # one copy removed per key ...
    assert cf.contains(h).all()  # ... the other still answers present
    assert cf.delete(h) == 5_000 and cf.n_items == 0


def test_delete_supports_recrawl_expiry():
    members = _hashes(20_000, 4)
    cf = CuckooFilter(capacity=32_000)
    cf.add(members)
    gone, kept = members[:10_000], members[10_000:]
    removed = cf.delete(gone)
    assert removed >= 9_990  # every present fingerprint removable
    # expired URLs become re-crawlable again ...
    assert cf.contains(gone).mean() < 0.01
    # ... while survivors keep the no-false-negative guarantee up to
    # fingerprint collisions with deleted keys (~FPP)
    assert cf.contains(kept).mean() > 0.999
    # and re-adding after expiry works (the bloom-impossible cycle)
    cf.add(gone)
    assert cf.contains(gone).all()


def test_over_capacity_raises_without_losing_fingerprints():
    cf = CuckooFilter(capacity=64)
    added = []
    with pytest.raises(RuntimeError):
        # 100x capacity must exhaust eviction chains + stash, not loop forever
        for i in range(100):
            h = _hashes(64, 100 + i)
            cf.add(h)
            added.append(h)
    # over-capacity is non-lossy: every fully-completed batch (appended
    # only after add() returned) is still queryable (table or stash), so
    # a caught error leaves a consistent filter
    assert added and cf.contains(np.concatenate(added)).all()
    assert cf.n_items >= 64 * len(added)


def test_pickle_roundtrip_for_broadcast():
    cf = CuckooFilter(capacity=1_000)
    h = _hashes(500, 5)
    cf.add(h)
    cf2 = pickle.loads(pickle.dumps(cf))
    assert cf2.contains(h).all() and cf2.n_items == cf.n_items


def test_property_no_false_negatives_under_interleaved_ops():
    """EXACT invariant under interleaved adds and contract-respecting
    deletes (only live keys deleted — the deletion contract): every live key is ALWAYS reported present, and
    n_items == |live multiset|. Holds even through fingerprint
    collisions because add() is a multiset (one stored copy per add)."""
    from hypothesis import given, settings, strategies as st

    key = st.integers(min_value=-(2**62), max_value=2**62)
    ops = st.lists(
        st.one_of(
            st.tuples(st.just("add"), st.lists(key, min_size=1, max_size=50)),
            # delete selector: (stride, limit) over the current live list
            st.tuples(st.just("del"), st.tuples(st.integers(1, 5), st.integers(1, 30))),
        ),
        min_size=1, max_size=12,
    )

    @given(ops)
    @settings(max_examples=120, deadline=None)
    def check(sequence):
        cf = CuckooFilter(capacity=4_000)
        live: list[int] = []  # multiset: duplicates are distinct copies
        for op, payload in sequence:
            if op == "add":
                assert cf.add(np.asarray(payload, dtype=np.int64)) == len(payload)
                live.extend(payload)
            elif live:
                stride, limit = payload
                sel = live[::stride][:limit]
                assert cf.delete(np.asarray(sel, dtype=np.int64)) == len(sel)
                for k in sel:
                    live.remove(k)
        assert cf.n_items == len(live)
        if live:
            assert cf.contains(np.asarray(live, dtype=np.int64)).all()

    check()


def test_engine_expire_seen_recrawls(spark, tmp_path):
    """expire_seen drops URLs from the seen set, so an expired URL is
    schedulable again: a re-run committed with the survivors re-fetches
    exactly the expired URLs (the exact path: the seen set stays below
    the engine's bloom threshold)."""
    from pyspark.sql import functions as F

    from searchgov_spider_spark.config import CrawlConfig
    from searchgov_spider_spark.plans.crawl import CrawlEngine, expire_seen
    from searchgov_spider_spark.sources.fetch import TablePageFetcher
    from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs

    cfg = CrawlConfig(wave_seconds=30.0, salt_buckets=4)
    graph = generate_graph(n_pages=120, seed=12)
    pages_df, seeds_df, robots_df = graph_to_dfs(spark, graph)
    engine = CrawlEngine(
        spark, seeds_df, TablePageFetcher(pages_df), str(tmp_path / "state"), robots=robots_df, config=cfg,
    )
    result = engine.run(max_waves=6)
    # expire a slice of fetched URLs, then feed them back as a frontier
    expired = result.seen.orderBy("canon_url").limit(10).cache()
    survivors = expire_seen(result.seen, expired)
    assert survivors.join(expired, "url_hash", "inner").count() == 0

    from searchgov_spider_spark.functions.urls import url_host_col

    hosts = engine.rules.select("job", F.explode("allowed_hosts").alias("host"))
    refrontier = engine._prepare_candidates(
        expired.withColumn("host", url_host_col("canon_url"))
        .join(hosts, "host")
        .select(
            "job",
            F.col("canon_url").alias("url"),
            F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("discovery_idx"),
        )
    )
    # the candidate-side dedup (what every discovered link flows through)
    # passes the expired URLs again ...
    from searchgov_spider_spark.operators.dedup import dedupe_against_seen

    recrawlable = dedupe_against_seen(refrontier, survivors, None)
    assert {r["canon_url"] for r in recrawlable.collect()} == {
        r["canon_url"] for r in expired.collect()
    }
    # ... and a re-run from that frontier, committed with the survivors as
    # the store's next commit c, re-fetches and re-emits them in wave c
    c = engine.store.newest() + 1
    rerun = engine.run_from(recrawlable, survivors, max_waves=c + 1)
    assert [w.wave for w in rerun.waves] == [c]
    rescheduled = {r["canon_url"] for r in rerun.seen.collect()} - {
        r["canon_url"] for r in survivors.collect()
    }
    assert rescheduled == {r["canon_url"] for r in expired.collect()}
    # control: WITHOUT expiry the same candidates are all dropped
    assert dedupe_against_seen(refrontier, result.seen, None).count() == 0


def test_dedupe_against_seen_accepts_cuckoo(spark):
    """The engine's D1 prefilter runs unchanged with a cuckoo filter in
    the bloom slot — exactness is preserved (no false negatives), and
    the result matches the bloom-free exact anti-join."""
    from pyspark.sql import functions as F

    from searchgov_spider_spark.operators.dedup import dedupe_against_seen

    cand = spark.range(0, 1000).select(
        F.col("id").cast("long").alias("url_hash"),
        F.concat(F.lit("https://a.gov/"), F.col("id").cast("string")).alias("canon_url"),
    )
    seen = spark.range(0, 1000, 3).select(
        F.col("id").cast("long").alias("url_hash"),
        F.concat(F.lit("https://a.gov/"), F.col("id").cast("string")).alias("canon_url"),
    )
    cf = build_cuckoo(seen, capacity=4_000)
    with_cuckoo = sorted(r["url_hash"] for r in dedupe_against_seen(cand, seen, cf).collect())
    exact = sorted(r["url_hash"] for r in dedupe_against_seen(cand, seen, None).collect())
    assert with_cuckoo == exact and len(exact) == 666
