"""``crawl_polite``: the real crawl loop, stopped and resumed.

``CrawlEngine.run`` crawls a ``generate_graph`` web with the parquet state
store and robots on, at the simulator's politeness (``wave_seconds=30``, so
a wave holds at most 4 domains x 30 URLs). After ``RUN_WAVES`` waves it
stops, and ``CrawlEngine.resume`` continues from the committed state for as
many waves as fill the run's measuring time, at least one.
The seen set stays far below the engine's bloom threshold, so the engine
takes its exact anti-join path; the layer replay measures the bloom path
on the replayed wave's seen set.
"""

from __future__ import annotations

import dataclasses
import math
import time
from pathlib import Path

from pyspark.sql import functions as F

from searchgov_spider_spark.config import DISCOVERY_STRIDE, CrawlConfig
from searchgov_spider_spark.functions.urls import canonicalize_batch, url_hash_col, url_host_col, with_canonical
from searchgov_spider_spark.operators import dedup
from searchgov_spider_spark.operators.extraction import extract_spans
from searchgov_spider_spark.operators.filters import apply_prefetch_filters, normalize_job_rules
from searchgov_spider_spark.operators.politeness import schedule_wave
from searchgov_spider_spark.operators.robots import apply_robots
from searchgov_spider_spark.plans.crawl import INTRA_WAVE_ORDER, SEEN_COLS, CrawlEngine
from searchgov_spider_spark.sources.fetch import TablePageFetcher
from searchgov_spider_spark.sources.state import ParquetStateStore
from searchgov_spider_spark.testing.graph import graph_to_dfs, simulate_crawl

from .inputs import crawl_web
from .trace import Tracer, force, instrument, median, partition_skew, self_times, task_slots

CONFIG = CrawlConfig(wave_seconds=30.0)
RUN_WAVES = 1
# extract_spans keep_cols of the engine's wave body
EXTRACT_KEEP = [
    "url", "canon_url", "url_hash", "job", "domain", "depth",
    "fetch_rank", "priority", "prevent_follow", "content_type",
]


def setup(spark, seed: int):
    graph = crawl_web(seed)
    pages, seeds, robots = graph_to_dfs(spark, graph)
    pages = pages.cache()
    pages.count()
    return graph, pages, seeds, robots


def crawl(spark, web, state_dir: Path, seconds: float, tracer: Tracer | None = None) -> dict:
    """Run, stop, resume. Returns the waves and wall times of both phases."""
    _graph, pages, seeds, robots = web
    fetcher = TablePageFetcher(pages)

    def call(name, fn, *args, **kwargs):
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    t0 = time.monotonic()
    engine = CrawlEngine(
        spark, seeds, fetcher, robots=robots, config=CONFIG, state_dir=str(state_dir)
    )
    first = call("crawl.run", engine.run, max_waves=RUN_WAVES)
    run_s = time.monotonic() - t0
    wave_s = median([w.seconds for w in first.waves])
    extra = max(1, math.ceil((seconds - run_s) / wave_s))
    t1 = time.monotonic()
    second = call(
        "crawl.resume", CrawlEngine.resume, spark, seeds, fetcher, str(state_dir),
        robots=robots, config=dataclasses.replace(CONFIG, max_waves=RUN_WAVES + extra),
    )
    resume_s = time.monotonic() - t1
    return {"first": first, "second": second, "run_s": run_s, "resume_s": resume_s}


def check(spark, web, out: dict, state_dir: Path) -> tuple[int, int]:
    """Compare with ``simulate_crawl``: per-wave scheduled counts, the seen
    set at the stop and after resume, and the document count.
    Returns (checks attempted, checks failed)."""
    graph = web[0]
    first, second = out["first"], out["second"]
    waves = first.waves + second.waves
    sim_stop = simulate_crawl(graph, CONFIG, max_waves=RUN_WAVES)
    sim = simulate_crawl(graph, CONFIG, max_waves=len(waves))
    store = ParquetStateStore(spark, str(state_dir), CONFIG.frontier_buckets)
    results = [
        [w.scheduled for w in waves] == sim.scheduled_per_wave,
        _canon_set(first.seen) == sim_stop.seen,
        _canon_set(second.seen) == sim.seen,
        store.read_accumulated("documents").count() == sim.documents,
    ]
    return len(results), results.count(False)


def _canon_set(seen) -> set:
    return {r["canon_url"] for r in seen.select("canon_url").collect()}


def e2e(out: dict) -> dict:
    waves = out["first"].waves + out["second"].waves
    scheduled = sum(w.scheduled for w in waves)
    return {
        "op_s_p50": median([w.seconds for w in waves]),
        "items_per_s": scheduled / (out["run_s"] + out["resume_s"]),
    }


def run(ctx) -> dict:
    spark = ctx.spark
    web = None
    setups = []
    for _ in range(ctx.setup_repeats):
        if web is not None:
            web[1].unpersist()
        t = time.monotonic()
        web = setup(spark, ctx.seed)
        setups.append(time.monotonic() - t)

    state = ctx.run_dir / "state"
    tracer = ctx.tracer
    if tracer is None:
        out = crawl(spark, web, state, ctx.seconds)
    else:
        with instrument(tracer):
            out = crawl(spark, web, state, ctx.seconds, tracer)
            tracing_s = tracer.overhead_s
            waves = out["first"].waves + out["second"].waves
            replay_wave = len(waves) // 2
            with tracer.span("replay"):
                replay = layer_replay(spark, web, state, replay_wave, tracer)
    attempted, failed = check(spark, web, out, state)
    ops = [w.seconds for w in out["first"].waves + out["second"].waves]
    attempted += len(ops)
    if tracer is None:
        metrics = {"setup_s": median(setups), **e2e(out)}
        return {"attempted": attempted, "failed": failed, "metrics": metrics, "ops": ops}

    tracer.finish()
    spans = replay["spans"]
    crawl_s = out["run_s"] + out["resume_s"]
    layers = {
        **crawl_layers(tracer, out, state),
        **replay["layers"],
        "fetch.shuffle_bytes": spans["fetch"].shuffle_bytes,
        "dedup.shuffle_bytes": spans["dedup.intra"].shuffle_bytes + spans["dedup"].shuffle_bytes,
        "trace.overhead_frac": tracing_s / (crawl_s - tracing_s),
    }
    ok = replay["scheduled"] == waves[replay_wave].scheduled
    return {"attempted": attempted + 1, "failed": failed + (not ok), "metrics": layers, "ops": ops}


def crawl_layers(tracer: Tracer, out: dict, state_dir: Path) -> dict:
    """Per-wave Spark work and state-store cost of the traced crawl."""
    waves = out["first"].waves + out["second"].waves
    n = len(waves)
    roots = [i for i, s in enumerate(tracer.spans) if s.name in ("crawl.run", "crawl.resume")]
    in_crawl = {i for r in roots for i in tracer.subtree(r)}
    spans = [tracer.spans[i] for i in sorted(in_crawl)]
    selfs = self_times(tracer.spans)
    writes = [i for i in in_crawl if tracer.spans[i].name == "state.write"]
    resume_root = roots[1]
    reads = [
        i for i in tracer.subtree(resume_root)
        if tracer.spans[i].name in ("state.read", "state.read_accumulated")
    ]
    files = list(state_dir.glob("**/*.parquet"))
    resumed = sum(w.seconds for w in out["second"].waves)
    return {
        "crawl.jobs_per_wave": sum(s.jobs for s in spans) / n,
        "crawl.stages_per_wave": sum(s.stages for s in spans) / n,
        "crawl.shuffle_bytes_per_wave": sum(s.shuffle_bytes for s in spans) / n,
        "crawl.tasks_failed": sum(s.tasks_failed for s in spans),
        "crawl.resume_s": tracer.spans[resume_root].seconds - resumed,
        "state.write_s": sum(selfs[i] for i in writes) / n,
        "state.write_calls": len(writes) / n,
        "state.files_per_wave": len(files) / n,
        "state.bytes_per_url": sum(f.stat().st_size for f in files) / sum(w.scheduled for w in waves),
        "state.read_s": sum(selfs[i] for i in reads),
    }


def _budget_col(cfg: CrawlConfig):
    """The engine's per-domain wave budget: wave_seconds over the larger of
    the download delay and the robots crawl delay, times concurrency."""
    delay = F.greatest(F.lit(cfg.download_delay_sec), F.coalesce(F.col("crawl_delay"), F.lit(0.0)))
    return F.greatest(
        F.lit(1), (F.floor(F.lit(cfg.wave_seconds) / delay) * cfg.per_domain_concurrency).cast("int")
    )


def layer_replay(spark, web, state_dir: Path, wave: int, tracer: Tracer) -> dict:
    """Re-run one committed wave layer by layer, each on a persisted input,
    each forced with a no-op write inside its own span."""
    _graph, pages, seeds, robots = web
    store = ParquetStateStore(spark, str(state_dir), CONFIG.frontier_buckets)
    frontier = force(store.read("frontier", wave))
    seen = force(store.read_accumulated("seen", up_to=wave).select(*SEEN_COLS))
    rules = force(normalize_job_rules(seeds))

    def timed(name, make):
        with tracer.span(name) as s:
            df = force(make())
        return df, s

    budgeted = force(frontier.withColumn("wave_budget", _budget_col(CONFIG)))
    with tracer.span("schedule") as sched_span:
        scheduled, deferred = schedule_wave(budgeted, "wave_budget", CONFIG.salt_buckets)
        scheduled = force(scheduled.drop("wave_budget"))
        deferred = force(deferred)
    n_sched = scheduled.count()

    fetched, fetch_span = timed("fetch", lambda: TablePageFetcher(pages).fetch(scheduled))
    ok = F.col("http_status") == 200
    parseable = F.col("content_type").startswith("text/html") | F.col("content_type").startswith(
        "application/pdf"
    )
    ext_in = force(fetched.filter(ok & parseable))
    parsed, extract_span = timed(
        "extract", lambda: extract_spans(ext_in, keep_cols=EXTRACT_KEEP, ctype_col="content_type")
    )
    links = force(
        parsed.filter(~F.col("prevent_follow") & F.col("content_type").startswith("text/html"))
        .select(
            "job", (F.col("depth") + 1).alias("depth"), "fetch_rank",
            F.posexplode("out_links").alias("pos", "url"),
        )
        .withColumn("discovery_idx", (F.col("fetch_rank").cast("long") * DISCOVERY_STRIDE + F.col("pos")).cast("long"))
        .drop("fetch_rank", "pos")
        .withColumn("prevent_follow", F.lit(False))
    )
    filtered, filter_span = timed(
        "prefetch.filters",
        lambda: apply_prefetch_filters(links, rules).select(
            "job", "url", "depth", "discovery_idx", "priority", "prevent_follow", "needs_js"
        ),
    )
    canon, canon_span = timed(
        "canon",
        lambda: with_canonical(filtered, "url", "canon_url")
        .withColumn("url_hash", url_hash_col("canon_url"))
        .withColumn("domain", url_host_col("canon_url")),
    )
    cands, robots_span = timed("prefetch.robots", lambda: apply_robots(canon, robots, "usasearch", host_col="domain"))
    deduped, intra_span = timed("dedup.intra", lambda: dedup.dedupe_intra_wave(cands, order_cols=INTRA_WAVE_ORDER))

    # the engine's seen set at this point already holds the wave's own
    # scheduled URLs, and so does its bloom
    seen_w = force(seen.unionByName(scheduled.select(*SEEN_COLS)))
    n_seen = seen_w.count()
    n_cand = deduped.count()
    with tracer.span("dedup.bloom_build") as build_span:
        bloom = dedup.build_bloom(
            seen_w, capacity=max(n_seen * 4, CONFIG.bloom_capacity),
            fpp=CONFIG.bloom_fpp, n_shards=CONFIG.bloom_shards,
        )
    new, dedup_span = timed(
        "dedup",
        lambda: dedup.dedupe_against_seen(
            deduped, seen_w, bloom, candidates_hint_rows=n_cand, seen_hint_rows=n_seen
        ),
    )
    with tracer.span("dedup.bloom_delta") as delta_span:
        delta = dedup.build_delta_bloom(scheduled.select("url_hash"), bloom.spec, n_rows=n_sched)
        bloom.merge(delta)

    keys = list(SEEN_COLS)
    # the delta only re-adds scheduled URLs the full build already holds
    suspects = int(bloom.contains(deduped.select("url_hash").toPandas()["url_hash"].to_numpy()).sum())
    really_seen = deduped.join(seen_w.select(*keys), keys, "left_semi").count()
    n_links = links.count()
    urls = filtered.select("url").toPandas()["url"]
    t = time.monotonic()
    canonicalize_batch(urls)
    python_s = (time.monotonic() - t) / task_slots(filtered)
    canon_s = canon_span.seconds

    body_bytes = ext_in.agg(F.sum(F.length("body"))).first()[0] or 0
    layers = {
        "fetch.s": fetch_span.seconds,
        "fetch.rows": fetched.count(),
        "extract.s": extract_span.seconds,
        "extract.rows": ext_in.count(),
        "extract.body_bytes": body_bytes,
        "prefetch.s": filter_span.seconds + robots_span.seconds,
        "prefetch.kept_frac": cands.count() / max(1, n_links),
        "canon.s": canon_s,
        "canon.rows": filtered.count(),
        "canon.python_s": python_s,
        "canon.transfer_s": canon_s - python_s,
        "dedup.s": intra_span.seconds + dedup_span.seconds,
        "dedup.candidates": n_cand,
        "dedup.suspects": suspects,
        "dedup.new": new.count(),
        "dedup.bloom_fpp": (suspects - really_seen) / max(1, n_cand - really_seen),
        "dedup.bloom_build_s": build_span.seconds,
        "dedup.bloom_delta_s": delta_span.seconds,
        "schedule.s": sched_span.seconds,
        "schedule.scheduled": n_sched,
        "schedule.deferred": deferred.count(),
        "schedule.partition_skew": partition_skew(scheduled),
    }
    spans = {"fetch": fetch_span, "dedup": dedup_span, "dedup.intra": intra_span}
    return {"scheduled": n_sched, "layers": layers, "spans": spans}
