"""Streaming URL-seen dedup — D1 as a continuous stateful operator.

The batch engine dedupes each wave against the seen-set with a broadcast
Bloom + exact anti-join (operators/dedup.py). In streaming form the
seen-set IS the operator state: discovered URLs arrive as an unbounded
stream and only the first-ever occurrence of each ``url_hash`` is
emitted downstream (the scrapy-redis `SADD url_seen` contract,
reference job_state/queue.py + dupefilter semantics).

Implementation: ``applyInPandasWithState`` over hash buckets —
``pmod(url_hash, n_buckets)`` — so per-group state is an array of seen
hashes, amortizing Python-group overhead across many URLs (keying state
by the raw url_hash would make one pandas group per URL). Scale shape:

- state lives in the state store (RocksDB in production), partitioned by
  bucket — at the 10^10-URL design point size ``n_buckets`` so each
  bucket's array stays in the low MBs, or swap the exact array for the
  Bloom-delta representation used by the batch path;
- state never times out: a URL is emitted once per stream (the
  budget stream, streaming/budget.py, is the one with a TTL arm);
- within one micro-batch the winner per url_hash is deterministic:
  rows are sorted by ``order_cols`` and the first row wins (the batch
  twin's min_by ordering); across micro-batches arrival order wins,
  which is the streaming contract.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DISCOVERED_SCHEMA = "ts timestamp, url_hash long, url string, domain string, wave long"
_OUT_COLS = ["ts", "url_hash", "url", "domain", "wave"]
_STATE_SCHEMA = "seen array<long>"


def streaming_seen_dedup(
    discovered: DataFrame,
    n_buckets: int = 256,
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """First-ever-occurrence filter over a stream of discovered URLs.

    Input columns: ``ts, url_hash, url, domain, wave`` (extra columns are
    dropped). Output: the same columns, one row per url_hash ever seen.
    """
    cols = list(order_cols)

    def dedup_bucket(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            batch = batch.sort_values(cols + ["url_hash"], kind="stable")
            fresh = batch[~batch["url_hash"].isin(seen)].drop_duplicates(
                subset=["url_hash"], keep="first"
            )
            seen.update(int(h) for h in fresh["url_hash"])
            out = fresh[_OUT_COLS]
        else:
            out = None
        state.update((sorted(seen),))
        if out is not None and not out.empty:
            yield out

    keyed = discovered.select(
        F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("bucket"), *_OUT_COLS
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        dedup_bucket,
        DISCOVERED_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
