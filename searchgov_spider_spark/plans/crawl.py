"""The crawl engine: URL frontier + fetch scheduler as a BFS wave loop.

Spark restatement of the reference crawl lifecycle (SURVEY.md §3.1):

    frontier_w --(politeness budget window P2, robots S7, filters F1-F7)-->
    scheduled_w --(fetch S3 via table-join / mapInPandas)--> fetched_w
    --(extraction L1/L4 pandas UDF)--> spans + out_links
    --(canonicalize L2, explode, dedup D1 bloom + anti-join)--> frontier_{w+1}

Wave = BFS level (DEPTH_PRIORITY=1 + FIFO ⇒ breadth-first in the reference,
settings.py:61-64). Per wave the engine appends to `seen`, `documents`,
`metrics`, and (when a state_dir is given) commits a checkpoint — the
parquet stand-in for an Iceberg snapshot-per-wave; resume reads the last
committed wave (P4, job_state/scheduler.py:18-47 semantics).

Scale contract:
- frontier/seen are hash-identified by ``url_hash = xxhash64(canon_url)``;
  state tables are written bucketed by ``pmod(url_hash, n_buckets)`` so the
  anti-join co-partitions at 10^10-URL scale.
- dedup = sharded-bloom pre-filter (broadcast) + exact left_anti on
  (url_hash, canon_url) — operators/dedup.py.
- the politeness window is salted two-phase top-k — operators/politeness.py.
- filters/robots are broadcast joins + codegen predicates, always upstream
  of the fetch stage (filter-before-fetch, SURVEY.md §4).
- per-wave lineage: every wave appends a metrics row (fetch/dedup/error
  counts) and documents rows carry (wave, job) — per-partition lineage
  comes from the bucketed state layout.

Determinism: ordering is (priority, depth, discovery_idx, canon_url); child
discovery_idx = parent_fetch_rank * 65536 + link_position. The pure-Python
oracle (testing/graph.simulate_crawl) reproduces the identical crawl.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, DISCOVERY_STRIDE, CrawlConfig, UNWANTED_HTTP_CODES
from ..functions.urls import url_hash_col, url_host_col, url_sha256_col, with_canonical
from ..operators.cuckoo import build_cuckoo
from ..operators.dedup import build_bloom, build_delta_bloom, dedupe_against_seen, dedupe_intra_wave
from ..operators.extraction import extract_spans
from ..operators.filters import apply_prefetch_filters, normalize_job_rules
from ..operators.politeness import schedule_wave
from ..operators.robots import apply_robots

INTRA_WAVE_ORDER = ("depth", "discovery_idx", "job", "url")
SEEN_COLS = ("url_hash", "canon_url")


@dataclass
class WaveMetrics:
    wave: int
    frontier_size: int
    scheduled: int
    fetched_ok: int
    http_errors: int
    unwanted_codes: int
    emitted: int
    candidates: int
    new_urls: int
    seconds: float


@dataclass
class CrawlResult:
    waves: list[WaveMetrics] = field(default_factory=list)
    documents: DataFrame | None = None
    seen: DataFrame | None = None
    frontier: DataFrame | None = None

    @property
    def scheduled_per_wave(self) -> list[int]:
        return [w.scheduled for w in self.waves]

    @property
    def total_scheduled(self) -> int:
        return sum(w.scheduled for w in self.waves)


class CrawlEngine:
    """Batch-iterative crawl over a pluggable fetcher."""

    def __init__(
        self,
        spark: SparkSession,
        seeds: DataFrame,
        fetcher,
        robots: DataFrame | None = None,
        config: CrawlConfig = DEFAULT_CONFIG,
        state_dir: str | None = None,
        user_agent: str = "usasearch",
        use_bloom_over: int = 50_000,
        seen_filter: str = "bloom",
    ):
        from ..sources.state import ParquetStateStore

        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', got {seen_filter!r}")

        self.spark = spark
        self.rules = normalize_job_rules(seeds).cache()
        self.fetcher = fetcher
        self.robots = robots
        self.config = config
        self.state_dir = Path(state_dir) if state_dir else None
        self.store = (
            ParquetStateStore(spark, state_dir, config.frontier_buckets) if state_dir else None
        )
        self.user_agent = user_agent
        self.use_bloom_over = use_bloom_over
        self.seen_filter = seen_filter
        self._bloom = None
        self._bloom_capacity = 0

    # -- plumbing -----------------------------------------------------------

    def _checkpoint(self, df: DataFrame, name: str, wave: int) -> DataFrame:
        """Truncate lineage between waves. With a state store, persist as
        the wave's snapshot (bucketed parquet — the Iceberg-snapshot
        analog) and read back; else localCheckpoint."""
        if self.store is None:
            return df.localCheckpoint(eager=True)
        return self.store.write(df, name, wave)

    def _commit_wave(self, wave: int, metrics: WaveMetrics) -> None:
        """The wave's commit record: written only after frontier+seen
        snapshots landed, so resume never sees a half-written wave."""
        if self.state_dir is None:
            return
        manifest = self.state_dir / "manifests" / f"wave={wave}.json"
        manifest.parent.mkdir(parents=True, exist_ok=True)
        manifest.write_text(json.dumps(metrics.__dict__))

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        seeds: DataFrame,
        fetcher,
        state_dir: str,
        **kwargs,
    ) -> CrawlResult:
        """P4: continue a crawl from the latest committed wave snapshot."""
        from ..sources.state import ParquetStateStore

        engine = cls(spark, seeds, fetcher, state_dir=state_dir, **kwargs)
        store: ParquetStateStore = engine.store
        fw = store.latest_wave("frontier")
        sw = store.latest_wave("seen")
        if fw is None:
            raise FileNotFoundError("no committed frontier snapshot to resume from")
        wave = fw if sw is None else min(fw, sw)
        frontier = store.read("frontier", wave)
        if sw is None:
            seen = spark.createDataFrame([], "url_hash long, canon_url string")
        else:
            # union of per-wave deltas up to the resume wave; later deltas
            # (torn state) are excluded and re-marked by wave replay
            seen = store.read_accumulated("seen", up_to=wave).select("url_hash", "canon_url")
        return engine.run_from(frontier, seen, start_wave=wave)

    def _prepare_candidates(self, cand: DataFrame) -> DataFrame:
        """filters → robots → canonical identity; candidates must arrive with
        (job, url, depth, discovery_idx); priority comes from the rules join.
        An optional ``prevent_follow`` column (sitemap-monitor rows, SURVEY
        §3.3) rides along; absent ⇒ false."""
        if "prevent_follow" not in cand.columns:
            cand = cand.withColumn("prevent_follow", F.lit(False))
        filtered = apply_prefetch_filters(cand, self.rules).select(
            "job", "url", "depth", "discovery_idx", "priority", "prevent_follow",
            "needs_js",  # S4 routing: per-job handle_javascript flag
        )
        # canonicalization is one Arrow UDF pass over every URL
        # (with_canonical); the wave caches the result downstream of here,
        # so `filtered`'s lineage (fetch + extraction explode) runs once
        withc = with_canonical(filtered, "url", "canon_url").withColumn(
            "url_hash", url_hash_col("canon_url")
        ).withColumn("domain", url_host_col("canon_url"))
        if self.robots is not None:
            withc = apply_robots(withc, self.robots, self.user_agent, host_col="domain")
        else:
            withc = withc.withColumn("crawl_delay", F.lit(None).cast("double"))
        return withc

    def initial_frontier(self) -> DataFrame:
        starts = self.rules.select(
            F.col("job"),
            F.explode("start_urls").alias("url"),
            F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("discovery_idx"),
        )
        return dedupe_intra_wave(self._prepare_candidates(starts), order_cols=INTRA_WAVE_ORDER)

    def _maintain_bloom(self, seen: DataFrame, seen_count: int, scheduled: DataFrame, n_scheduled: int | None = None):
        """Incremental bloom maintenance (the Redis-SADD analog): per wave,
        build a delta bloom from just the newly scheduled fingerprints and
        OR it into the cumulative filter. A full rebuild happens only on
        first use (or resume) and when the seen set outgrows the spec's
        design capacity — O(seen) work amortized, not per wave."""
        cfg = self.config
        if seen_count <= self.use_bloom_over:
            return None
        capacity_for = lambda n: max(n * 4, cfg.bloom_capacity)  # noqa: E731
        if self._bloom is None or seen_count > self._bloom_capacity:
            self._bloom_capacity = capacity_for(seen_count)
            if self.seen_filter == "cuckoo":
                self._bloom = build_cuckoo(seen, capacity=self._bloom_capacity)
            else:
                self._bloom = build_bloom(
                    seen, capacity=self._bloom_capacity,
                    fpp=cfg.bloom_fpp, n_shards=cfg.bloom_shards,
                )
        elif self.seen_filter == "cuckoo":
            # O(delta) driver-side insert (Arrow transfer of just the wave's
            # 8 B/row fingerprints) — cuckoo tables aren't OR-mergeable like
            # bloom bitmaps, so the delta lands as inserts instead of a merge
            for b in scheduled.select("url_hash").toArrow().to_batches(max_chunksize=4_000_000):
                self._bloom.add(b.column(0).to_numpy(zero_copy_only=False))
        else:
            delta = build_delta_bloom(
                scheduled.select("url_hash"), self._bloom.spec, n_rows=n_scheduled,
            )
            self._bloom.merge(delta)
        return self._bloom

    def expire_seen(self, seen: DataFrame, expired: DataFrame) -> DataFrame:
        """Re-crawl semantics (sitemap re-monitoring / P5 TTL expiry):
        drop URLs from the seen set so the next wave schedules them again.

        ``expired`` needs a ``canon_url`` column (``url_hash`` derived if
        absent). With ``seen_filter='cuckoo'`` the in-memory filter evicts
        just the expired fingerprints — O(delta), the operation a bloom
        cannot do; in bloom mode the filter is invalidated and rebuilt
        lazily on the next wave (O(seen)). Returns the surviving seen
        DataFrame; persist it via the normal wave checkpoint on the next
        ``run_from``."""
        if "url_hash" not in expired.columns:
            expired = expired.withColumn("url_hash", url_hash_col("canon_url"))
        expired = expired.select("url_hash").distinct()
        survivors = seen.join(expired, "url_hash", "left_anti")
        if self._bloom is not None:
            if self.seen_filter == "cuckoo":
                # delete only hashes actually IN seen — deleting a
                # non-member could evict a fingerprint-colliding live
                # key's copy (the paper's deletion contract: delete only
                # what was added)
                members = expired.join(
                    seen.select("url_hash").distinct(), "url_hash", "left_semi"
                )
                for b in members.toArrow().to_batches(max_chunksize=4_000_000):
                    self._bloom.delete(b.column(0).to_numpy(zero_copy_only=False))
            else:
                self._bloom = None  # bloom can't delete: force rebuild
        return survivors

    def _budget_col(self):
        cfg = self.config
        delay = F.greatest(F.lit(cfg.download_delay_sec), F.coalesce(F.col("crawl_delay"), F.lit(0.0)))
        return F.greatest(
            F.lit(1),
            (F.floor(F.lit(cfg.wave_seconds) / delay) * cfg.per_domain_concurrency).cast("int"),
        )

    # -- the loop ------------------------------------------------------------

    def run(self, max_waves: int | None = None) -> CrawlResult:
        frontier = self._checkpoint(self.initial_frontier(), "frontier", 0)
        seen = self.spark.createDataFrame([], "url_hash long, canon_url string")
        return self.run_from(frontier, seen, start_wave=0, max_waves=max_waves)

    def run_from(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        start_wave: int = 0,
        max_waves: int | None = None,
    ) -> CrawlResult:
        """Continue a crawl from persisted (frontier, seen) state — resume
        semantics (P4): re-running a wave is idempotent because scheduling
        dedups against `seen` and dedup absorbs replays."""
        cfg = self.config
        max_waves = max_waves or cfg.max_waves
        result = CrawlResult()
        documents: DataFrame | None = None
        if "prevent_follow" not in frontier.columns:  # pre-flag checkpoints
            frontier = frontier.withColumn("prevent_follow", F.lit(False))
        if "needs_js" not in frontier.columns:
            frontier = frontier.withColumn("needs_js", F.lit(False))

        # Driver-action budget: the serial floor between waves is what
        # caps scaling efficiency, so per-wave actions are folded —
        # frontier_size carries over from the previous wave's post-
        # checkpoint count, and the seen cardinality is tracked as a
        # running counter (every scheduled row is provably unseen).
        frontier_size = frontier.count()
        seen_count = seen.count() if start_wave > 0 else 0
        for wave in range(start_wave, max_waves):
            t0 = time.monotonic()
            if frontier_size == 0:
                break

            budgeted = frontier.withColumn("wave_budget", self._budget_col())
            scheduled, deferred = schedule_wave(budgeted, "wave_budget", cfg.salt_buckets)
            scheduled = scheduled.drop("wave_budget").cache()

            # fingerprints are recorded at schedule time, like the reference's
            # dupefilter SADD at enqueue (job_state/dupefilter.py:8-25).
            # Persistence is INCREMENTAL: only this wave's delta is written
            # (O(delta) I/O, the Redis-SADD / Iceberg-append analog); the
            # in-memory seen set is a union of materialized deltas. This
            # write is also what materializes the `scheduled` cache — no
            # separate count() job.
            seen_delta = scheduled.select(*SEEN_COLS)
            if self.store is not None:
                seen_delta = self.store.write_delta(seen_delta, "seen", wave + 1)
            else:
                seen_delta = seen_delta.localCheckpoint(eager=True)
            seen = seen.unionByName(seen_delta)

            fetched = self.fetcher.fetch(scheduled).cache()
            ok = F.col("http_status") == 200
            # every scheduled row yields exactly one fetched row (left join /
            # disjoint routing union), so the scheduled count rides along in
            # the stats agg instead of a dedicated count() job per wave.
            stats = fetched.agg(
                F.count(F.lit(1)).alias("n_sched"),
                F.sum(ok.cast("int")).alias("n_ok"),
                F.sum((~ok).cast("int")).alias("n_err"),
                F.sum(F.col("http_status").isin(*UNWANTED_HTTP_CODES).cast("int")).alias("n_unwanted"),
            ).first()
            n_scheduled = int(stats["n_sched"] or 0)
            seen_count += n_scheduled

            # emit: valid content type per job target (F6) → documents rows
            emit_ready = (
                fetched.filter(ok)
                .join(F.broadcast(self.rules.select("job", "output_target")), "job")
                .filter(is_valid_content_type_for_target(F.col("content_type"), F.col("output_target")))
            )
            # L1/L4: HTML pages AND PDFs flow through extraction (per-row
            # content-type dispatch); only HTML feeds the next frontier —
            # the reference's LinkExtractor runs on HTML responses only,
            # PDF links live in the document content (convert_pdf_i14y).
            parseable = F.col("content_type").startswith("text/html") | F.col(
                "content_type"
            ).startswith("application/pdf")
            parsed = extract_spans(
                fetched.filter(ok & parseable),
                keep_cols=[
                    "url", "canon_url", "url_hash", "job", "domain", "depth",
                    "fetch_rank", "priority", "prevent_follow", "content_type",
                ],
                ctype_col="content_type",
            ).cache()

            docs_wave = (
                emit_ready.join(
                    parsed.select("canon_url", "spans", "title", "html_lang", "meta"),
                    "canon_url",
                    "left",
                )
                .select(
                    url_sha256_col("url").alias("doc_id"),
                    F.col("url"),
                    F.col("job"),
                    F.col("domain"),
                    F.lit(wave).alias("wave"),
                    F.col("content_type"),
                    F.coalesce(
                        F.substring("content_language", 1, 2),
                        F.lower(F.split(F.col("html_lang"), "-").getItem(0)),
                    ).alias("language"),
                    F.col("title"),
                    F.col("spans"),
                    # raw extraction fields ride along so operators/i14y.py
                    # can assemble the full document downstream
                    F.col("html_lang"),
                    F.col("meta"),
                    F.col("content_language"),
                )
            )
            # per-wave document snapshot: materialize now (store append or
            # localCheckpoint) so the accumulated documents plan is a union
            # of materialized waves, not an O(waves)-deep lineage over
            # unpersisted caches
            if self.store is not None:
                docs_wave = self.store.write_delta(docs_wave, "documents", wave)
            else:
                docs_wave = docs_wave.localCheckpoint(eager=True)
            n_emitted = docs_wave.count()
            documents = docs_wave if documents is None else documents.unionByName(docs_wave)

            # next-wave candidates: explode out-links with deterministic order
            # (prevent_follow rows — sitemap-discovered URLs — emit documents
            # but never feed the frontier, matching prevent_follow=True +
            # depth_limit=1 crawls at sitemap_monitor.py:304-325)
            links = parsed.filter(
                ~F.col("prevent_follow") & F.col("content_type").startswith("text/html")
            ).select(
                F.col("job"),
                (F.col("depth") + 1).alias("depth"),
                F.col("fetch_rank"),
                F.posexplode("out_links").alias("pos", "url"),
            ).withColumn(
                "discovery_idx",
                (F.col("fetch_rank").cast("long") * DISCOVERY_STRIDE + F.col("pos")).cast("long"),
            ).drop("fetch_rank", "pos")

            # cache: the candidate metric count and the frontier checkpoint
            # both consume candidates — without the cache the canonicalize
            # UDF would run twice
            candidates = self._prepare_candidates(links).cache()
            n_candidates = candidates.count()
            deduped = dedupe_intra_wave(candidates, order_cols=INTRA_WAVE_ORDER)

            bloom = self._maintain_bloom(seen, seen_count, scheduled, n_scheduled)
            # n_candidates (already counted for metrics) upper-bounds the
            # suspect set and seen_count tracks the big side, letting
            # steady-state waves take the broadcast-probe path that never
            # shuffles the growing `seen` table
            new_urls = dedupe_against_seen(
                deduped, seen, bloom,
                candidates_hint_rows=n_candidates, seen_hint_rows=seen_count,
            )

            frontier_next = dedupe_intra_wave(
                deferred.drop("wave_budget").unionByName(new_urls), order_cols=INTRA_WAVE_ORDER
            )
            frontier = self._checkpoint(frontier_next, "frontier", wave + 1)
            n_new = frontier.count()
            next_frontier_size = n_new

            metrics = WaveMetrics(
                wave=wave,
                frontier_size=frontier_size,
                scheduled=n_scheduled,
                fetched_ok=int(stats["n_ok"] or 0),
                http_errors=int(stats["n_err"] or 0),
                unwanted_codes=int(stats["n_unwanted"] or 0),
                emitted=n_emitted,
                candidates=n_candidates,
                new_urls=n_new,
                seconds=time.monotonic() - t0,
            )
            result.waves.append(metrics)
            self._commit_wave(wave, metrics)
            scheduled.unpersist()
            parsed.unpersist()
            fetched.unpersist()
            candidates.unpersist()
            frontier_size = next_frontier_size

        result.documents = documents
        result.seen = seen
        result.frontier = frontier
        return result


def is_valid_content_type_for_target(ctype, target):
    """Per-row content-type validity when output_target varies by job."""
    from ..config import CONTENT_TYPES_BY_TARGET

    expr = F.lit(False)
    for tgt, allowed in CONTENT_TYPES_BY_TARGET.items():
        m = F.lit(False)
        for t in allowed:
            m = m | ctype.rlike(t)
        expr = F.when(target == tgt, m).otherwise(expr)
    return F.coalesce(expr, F.lit(False))
