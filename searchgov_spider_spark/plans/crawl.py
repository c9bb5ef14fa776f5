"""The crawl engine: URL frontier + fetch scheduler as a BFS wave loop.

Spark restatement of the reference crawl lifecycle (SURVEY.md §3.1):

    frontier_w --(politeness budget window P2, robots S7, filters F1-F7)-->
    scheduled_w --(fetch S3 via table-join / mapInPandas)--> fetched_w
    --(extraction L1/L4 pandas UDF)--> spans + out_links
    --(canonicalize L2, explode, dedup D1 bloom + anti-join)--> frontier_{w+1}

Wave = BFS level (DEPTH_PRIORITY=1 + FIFO ⇒ breadth-first in the reference,
settings.py:61-64). Every wave starts from a commit of the state store:
it reads that commit's frontier and seen set, appends to `seen` and
`documents`, replaces `frontier`, and commits the three writes and the
wave's metrics as the next record — the parquet stand-in for an Iceberg
snapshot-per-wave. A fresh run starts from commit 0 and resume from the
newest commit (P4, job_state/scheduler.py:18-47 semantics).

Scale contract:
- frontier/seen are hash-identified by ``url_hash = xxhash64(canon_url)``;
  each state write keeps the wave frame's own (AQE-sized) partitioning, so
  a small wave's delta is one file (sources/state.py).
- dedup = exact left_anti on (url_hash, canon_url) — operators/dedup.py.
  Above ``BLOOM_OVER_ROWS`` seen rows a sharded-bloom pre-filter
  (broadcast) runs in front of it; below, the wave runs only the exact
  anti-join.
- the politeness window is salted two-phase top-k — operators/politeness.py.
- filters/robots are broadcast joins + codegen predicates, always upstream
  of the fetch stage (filter-before-fetch, SURVEY.md §4).
- per-wave lineage: every wave reports a metrics row (fetch/dedup/error
  counts) and documents rows carry (wave, job); each commit record holds
  the wave's metrics and names every state file with its rows and bytes
  (``store.record(wave)``).

Determinism: ordering is (priority, depth, discovery_idx, canon_url); child
discovery_idx = parent_fetch_rank * 65536 + link_position. The pure-Python
oracle (testing/graph.simulate_crawl) reproduces the identical crawl.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import (
    CONTENT_TYPES_BY_TARGET, DEFAULT_CONFIG, DISCOVERY_STRIDE, CrawlConfig, UNWANTED_HTTP_CODES,
)
from ..functions.content_type import is_valid_content_type_col
from ..functions.urls import url_hash_col, url_host_col, url_sha256_col, with_canonical
from ..operators.dedup import build_bloom, build_delta_bloom, dedupe_against_seen, dedupe_intra_wave
from ..operators.extraction import extract_spans
from ..operators.filters import apply_prefetch_filters, filter_reason_col, normalize_job_rules
from ..operators.politeness import schedule_wave
from ..operators.robots import apply_agent_rules, robots_keep_col, select_agent_rules

INTRA_WAVE_ORDER = ("depth", "discovery_idx", "job", "url")
SEEN_COLS = ("url_hash", "canon_url")
# seen rows above which a wave pre-filters its candidates with a bloom
BLOOM_OVER_ROWS = 50_000


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
        state_dir: str,
        robots: DataFrame | None = None,
        config: CrawlConfig = DEFAULT_CONFIG,
    ):
        from ..sources.state import ParquetStateStore

        self.spark = spark
        self.fetcher = fetcher
        self.config = config
        self.store = ParquetStateStore(spark, state_dir)
        # the seen filter and the committed seen files it holds: None with
        # no filter, and while it holds a delta that no commit names yet
        self._bloom = None
        self._bloom_files: frozenset[str] | None = None
        self._bloom_capacity = 0

        # Loop invariants, built once: every wave reuses these relations
        # and Column trees instead of re-planning them. The job rules and
        # the agent's robots rules are driver-local, so no wave re-scans
        # their sources or re-aggregates the robots table.
        self.rules = _driver_local(normalize_job_rules(seeds))
        self.agent_rules = (
            None if robots is None else _driver_local(select_agent_rules(robots, config.user_agent))
        )
        self._filter_reason = filter_reason_col()
        self._robots_keep = robots_keep_col()
        # a page is emitted when its job's output_target allows its content
        # type; a null or empty header never is
        self._emit_ok = F.coalesce(
            *[
                F.when(F.col("output_target") == target, is_valid_content_type_col("content_type", target))
                for target in CONTENT_TYPES_BY_TARGET
            ],
            F.lit(False),
        )
        self._wave_budget = self._budget_col()
        ok = F.col("http_status") == 200
        self._fetch_stats = (
            F.sum(ok.cast("int")).alias("n_ok"),
            F.sum((~ok).cast("int")).alias("n_err"),
            F.sum(F.col("http_status").isin(*UNWANTED_HTTP_CODES).cast("int")).alias("n_unwanted"),
        )

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        seeds: DataFrame,
        fetcher,
        state_dir: str,
        max_waves: int | None = None,
        **kwargs,
    ) -> CrawlResult:
        """P4: continue a crawl from its newest commit. Writes of a wave
        that never committed are named by no record, so the wave replays.
        The crawl stops before wave ``max_waves``, as in ``run_from``."""
        engine = cls(spark, seeds, fetcher, state_dir, **kwargs)
        wave = engine.store.newest()
        if wave is None:
            raise FileNotFoundError(f"no committed wave under {state_dir} to resume from")
        return engine._crawl(wave, max_waves)

    def _prepare_candidates(self, cand: DataFrame) -> DataFrame:
        """filters → robots → canonical identity; candidates must arrive with
        (job, url, depth, discovery_idx); priority comes from the rules join.
        An optional ``prevent_follow`` column (sitemap-monitor rows, SURVEY
        §3.3) rides along; absent ⇒ false."""
        if "prevent_follow" not in cand.columns:
            cand = cand.withColumn("prevent_follow", F.lit(False))
        filtered = apply_prefetch_filters(cand, self.rules, self._filter_reason).select(
            "job", "url", "depth", "discovery_idx", "priority", "prevent_follow",
            "needs_js",  # S4 routing: per-job handle_javascript flag
        )
        # canonicalization is one Arrow UDF pass over every URL
        # (with_canonical); the wave caches the result downstream of here,
        # so `filtered`'s lineage (fetch + extraction explode) runs once
        withc = with_canonical(filtered, "url", "canon_url").withColumn(
            "url_hash", url_hash_col("canon_url")
        ).withColumn("domain", url_host_col("canon_url"))
        if self.agent_rules is not None:
            withc = apply_agent_rules(withc, self.agent_rules, host_col="domain", keep=self._robots_keep)
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

    def _maintain_bloom(
        self, seen: DataFrame, seen_count: int, seen_delta: DataFrame, n_delta: int, files: frozenset[str]
    ):
        """The wave's seen filter, above ``BLOOM_OVER_ROWS`` seen rows. A
        filter holds exactly the committed seen ``files`` it was built and
        advanced from: when the wave's commit names that set, the wave ORs
        in a bloom of just its delta (the Redis-SADD analog, O(delta));
        any other set (injected or expired seen rows, a compaction, a new
        engine) or a seen set past the filter's capacity rebuilds it from
        ``seen`` (O(seen))."""
        cfg = self.config
        if seen_count <= BLOOM_OVER_ROWS:
            self._bloom = self._bloom_files = None
            return None
        if files != self._bloom_files or seen_count > self._bloom_capacity:
            self._bloom_capacity = max(seen_count * 4, cfg.bloom_capacity)
            self._bloom = build_bloom(
                seen, capacity=self._bloom_capacity, fpp=cfg.bloom_fpp, n_shards=cfg.bloom_shards,
            )
        else:
            delta = build_delta_bloom(seen_delta.select("url_hash"), self._bloom.spec, n_rows=n_delta)
            self._bloom.merge(delta)
        self._bloom_files = None  # until the wave's commit names the delta
        return self._bloom

    def _budget_col(self):
        cfg = self.config
        delay = F.greatest(F.lit(cfg.download_delay_sec), F.coalesce(F.col("crawl_delay"), F.lit(0.0)))
        return F.greatest(
            F.lit(1),
            (F.floor(F.lit(cfg.wave_seconds) / delay) * cfg.per_domain_concurrency).cast("int"),
        )

    # -- the loop ------------------------------------------------------------

    def run(self, max_waves: int | None = None) -> CrawlResult:
        """Crawl from the seeds: ``run_from`` the initial frontier in an
        empty store. Refuses a state dir that already holds a crawl."""
        newest = self.store.newest()
        if newest is not None:
            raise ValueError(
                f"{self.store.root} already holds a crawl (newest commit {newest}); "
                "resume it, or run in an empty state dir"
            )
        return self.run_from(self.initial_frontier(), max_waves=max_waves)

    def run_from(
        self, frontier: DataFrame, seen: DataFrame | None = None, max_waves: int | None = None
    ) -> CrawlResult:
        """Commit ``frontier`` and ``seen`` as the store's next commit ``c``
        (0 in an empty store) and crawl from it, so injected state (a
        sitemap drain, a re-crawl after ``expire_seen``) continues like a
        resume. ``seen=None`` keeps the committed seen set (none in an
        empty store); documents keep their committed files. Waves are
        numbered from ``c``, and the crawl stops before wave ``max_waves``."""
        newest = self.store.newest()
        c = 0 if newest is None else newest + 1
        self.store.write(frontier, "frontier", c)
        if seen is not None:
            self.store.write(seen.select(*SEEN_COLS), "seen", c)
        self.store.commit(c)
        return self._crawl(c, max_waves)

    def _crawl(self, start: int, max_waves: int | None = None) -> CrawlResult:
        """Run waves from commit ``start``: wave ``w`` reads commit ``w``
        (its frontier, seen set and row counts) and commits ``w + 1``. The
        result's tables are those of the last commit, the whole crawl's."""
        cfg = self.config
        store = self.store
        max_waves = cfg.max_waves if max_waves is None else max_waves
        result = CrawlResult()

        # Driver-action budget: a small wave's cost is fixed per-job
        # overhead, so a wave runs only the actions that do real work —
        # exactly three: the seen-delta, documents and frontier writes.
        # Every count the wave reports rides on them or on the commit
        # record: the entry counts from the record, scheduled/emitted/new
        # rows from the written files' footers, the fetch stats and
        # candidate count from observations on plans those writes run.
        last = start
        for wave in range(start, max_waves):
            t0 = time.monotonic()
            frontier_size = store.rows("frontier", wave)
            if frontier_size == 0:
                break
            frontier = store.read("frontier", wave)
            seen_files = _seen_files(store.record(wave))

            budgeted = frontier.withColumn("wave_budget", self._wave_budget)
            scheduled, deferred = schedule_wave(budgeted, "wave_budget", cfg.salt_buckets)
            fetched = self.fetcher.fetch(scheduled.drop("wave_budget")).cache()

            # fingerprints are recorded at schedule time, like the reference's
            # dupefilter SADD at enqueue (job_state/dupefilter.py:8-25).
            # Persistence is INCREMENTAL: only this wave's delta is written
            # (O(delta) I/O, the Redis-SADD / Iceberg-append analog). The
            # seen set is two relations however many waves ran: commit
            # `wave`'s files, read as one, and this delta. Every scheduled
            # row yields exactly one fetched row (left join / disjoint
            # routing union), so the delta is written from `fetched`: the
            # write materializes the fetch cache, and the fetch stats are
            # observed at its root, where no empty-relation pruning can
            # drop them.
            fetch_obs = Observation()
            seen_delta, n_scheduled = store.write_delta(
                fetched.observe(fetch_obs, *self._fetch_stats).select(*SEEN_COLS), "seen", wave + 1
            )
            stats = fetch_obs.get
            seen, seen_count = seen_delta, n_scheduled
            if seen_files:
                seen = store.read_accumulated("seen", wave).unionByName(seen_delta)
                seen_count += store.rows("seen", wave)

            # emit: valid content type per job target (F6) → documents rows
            ok = F.col("http_status") == 200
            emit_ready = (
                fetched.filter(ok)
                .join(F.broadcast(self.rules.select("job", "output_target")), "job")
                .filter(self._emit_ok)
            )
            # L1/L4: HTML pages AND PDFs flow through extraction (per-row
            # content-type dispatch); only HTML feeds the next frontier —
            # the reference's LinkExtractor runs on HTML responses only,
            # PDF links live in the document content (convert_pdf_i14y).
            parseable = F.col("content_type").startswith("text/html") | F.col(
                "content_type"
            ).startswith("application/pdf")
            follow = ~F.col("prevent_follow") & F.col("content_type").startswith("text/html")
            links_obs = Observation()
            parsed = extract_spans(
                fetched.filter(ok & parseable),
                keep_cols=[
                    "url", "canon_url", "url_hash", "job", "domain", "depth",
                    "fetch_rank", "priority", "prevent_follow", "content_type",
                ],
                ctype_col="content_type",
            ).observe(
                # an upper bound on the wave's candidates, for the dedup hint
                links_obs, F.sum(F.when(follow, F.greatest(F.size("out_links"), F.lit(0)))).alias("n"),
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
            _, n_emitted = store.write_delta(docs_wave, "documents", wave + 1)

            # next-wave candidates: explode out-links with deterministic order
            # (prevent_follow rows — sitemap-discovered URLs — emit documents
            # but never feed the frontier, matching prevent_follow=True +
            # depth_limit=1 crawls at sitemap_monitor.py:304-325)
            links = parsed.filter(follow).select(
                F.col("job"),
                (F.col("depth") + 1).alias("depth"),
                F.col("fetch_rank"),
                F.posexplode("out_links").alias("pos", "url"),
            ).withColumn(
                "discovery_idx",
                (F.col("fetch_rank").cast("long") * DISCOVERY_STRIDE + F.col("pos")).cast("long"),
            ).drop("fetch_rank", "pos")

            # cache: the bloom path reads candidates twice (definite-new and
            # suspect branches) — without the cache the canonicalize UDF
            # would run twice. The count is observed inside the cached plan.
            cand_obs = Observation()
            candidates = self._prepare_candidates(links).observe(
                cand_obs, F.count(F.lit(1)).alias("n")
            ).cache()

            bloom = self._maintain_bloom(seen, seen_count, seen_delta, n_scheduled, seen_files)
            # with a bloom, the out-link count (observed by the documents
            # write) upper-bounds the suspect set and seen_count tracks the
            # big side, letting steady-state waves take the broadcast-probe
            # path that never shuffles the growing `seen` table
            n_links = None
            if bloom is not None and (observed := _observed(links_obs)) is not None:
                n_links = observed["n"] or 0
            # one intra-wave dedupe: the anti-join against `seen` is by key,
            # so it commutes with keeping each URL's minimum-order copy, and
            # the dedupe over deferred ∪ new keeps that copy
            new_urls = dedupe_against_seen(
                candidates, seen, bloom, candidates_hint_rows=n_links, seen_hint_rows=seen_count,
            )
            frontier_next = dedupe_intra_wave(
                deferred.drop("wave_budget").unionByName(new_urls), order_cols=INTRA_WAVE_ORDER
            )
            _, n_new = store.write(frontier_next, "frontier", wave + 1)
            # AQE drops an empty-result subtree, and the observation in it
            # (e.g. every candidate already seen and nothing deferred): then
            # count the cache the frontier write built
            observed = _observed(cand_obs)
            n_candidates = observed["n"] if observed is not None else candidates.count()

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
            store.commit(wave + 1, metrics.__dict__)
            if bloom is not None:
                self._bloom_files = _seen_files(store.record(wave + 1))
            last = wave + 1
            parsed.unpersist()
            fetched.unpersist()
            candidates.unpersist()

        tables = store.record(last)["tables"]
        result.frontier = store.read("frontier", last)
        result.seen = store.read_accumulated("seen", last) if "seen" in tables else None
        result.documents = store.read_accumulated("documents", last) if "documents" in tables else None
        return result


def expire_seen(seen: DataFrame, expired: DataFrame) -> DataFrame:
    """Re-crawl semantics (sitemap re-monitoring / P5 TTL expiry): the
    ``seen`` rows not in ``expired``, matched on (url_hash, canon_url), so
    the next wave schedules the expired URLs again. ``expired`` needs a
    ``canon_url`` column (``url_hash`` derived if absent); ``run_from``
    commits the survivors with the re-crawl frontier."""
    if "url_hash" not in expired.columns:
        expired = expired.withColumn("url_hash", url_hash_col("canon_url"))
    return seen.join(expired.select(*SEEN_COLS).distinct(), list(SEEN_COLS), "left_anti")


def _seen_files(record: dict) -> frozenset[str]:
    """The seen-table files commit ``record`` names (none before a wave ran)."""
    seen = record["tables"].get("seen")
    return frozenset(f["path"] for f in seen["files"]) if seen else frozenset()


def _driver_local(df: DataFrame) -> DataFrame:
    """``df`` collected once and re-planned as a driver-local relation
    (``createDataFrame`` of an Arrow table is a LocalRelation). A plan that
    reads it re-runs nothing of ``df``'s plan: no aggregate, and no
    Python-RDD scan of a ``createDataFrame(list)`` source."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def _observed(obs: Observation) -> dict | None:
    """``obs``'s metrics, or None when the action that ran its plan reported
    none: Spark completes an observation with an empty row when AQE
    replaced the observed subtree by an empty relation. Call only after an
    action whose plan contains ``obs`` (else this waits forever)."""
    if obs._jo.getRow().length() == 0:
        return None
    return obs.get
