"""Kill → resume → replay, end to end: the scheduler's ``Rerun::``
pending-job protocol (scheduling.py, reference schedulers.py:75-99)
composed with the crawl engine's wave checkpoints (P4).

Scenario: a schedule cycle over two sites dies MID-CRAWL on the second
site — after that crawl committed two wave checkpoints but before the
job completed (so its pending entry was never removed). The next boot's
``trigger_pending_jobs`` must replay exactly that job under a
``Rerun::`` id, and the replayed engine must RESUME from the committed
wave (not restart from the seeds): per-wave scheduled counts across
boot 1 + boot 2 must equal an uninterrupted run's, the final seen set
must be identical, and a third boot must replay nothing.

This is the composed proof the per-layer tests (test_scheduling.py's
recorder runner, test_crawl_engine.py's resume) don't give: the real
``engine_runner`` + real CrawlEngine under the scheduler's crash window.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from searchgov_spider_spark.config import DEFAULT_CONFIG
from searchgov_spider_spark.plans.crawl import CrawlEngine
from searchgov_spider_spark.scheduling import CrawlScheduler, engine_runner
from searchgov_spider_spark.sources.crawl_sites import CrawlSite, CrawlSites
from searchgov_spider_spark.sources.fetch import TablePageFetcher
from searchgov_spider_spark.sources.state import ParquetStateStore
from searchgov_spider_spark.testing.graph import generate_graph, graph_to_dfs, simulate_crawl


class KilledMidCrawl(RuntimeError):
    pass


def _sites() -> CrawlSites:
    return CrawlSites(
        [
            CrawlSite(
                name="agency-a", allow_query_string=False,
                allowed_domains="agency-a.gov",
                handle_javascript=False,
                starting_urls="https://agency-a.gov/",
                output_target="csv", depth_limit=5,
            ),
            CrawlSite(
                name="hot", allow_query_string=False,
                allowed_domains="hot.example.gov",
                handle_javascript=False,
                starting_urls="https://hot.example.gov/",
                output_target="csv", depth_limit=6,
            ),
        ]
    )


@pytest.fixture(scope="module")
def graph():
    return generate_graph(n_pages=260, seed=13)


@pytest.fixture(scope="module")
def world(spark, graph):
    pages_df, _, robots_df = graph_to_dfs(spark, graph)
    return TablePageFetcher(pages_df), robots_df


def _hot() -> CrawlSite:
    return next(s for s in _sites() if s.job_id == "hot")


@pytest.fixture(scope="module")
def hot_sim(spark, graph):
    """The simulator's crawl of `hot` alone, at the engine's defaults."""
    rows = [tuple(r) for r in CrawlSites([_hot()]).to_seeds_df(spark).collect()]
    return simulate_crawl({**graph, "seeds_rows": rows}, DEFAULT_CONFIG, DEFAULT_CONFIG.max_waves)


def _seen_set(result) -> set[str]:
    return {r["canon_url"] for r in result.seen.collect()}


def test_kill_resume_replay(spark, world, hot_sim, tmp_path):
    fetcher, robots = world
    sites = _sites()
    hot = _hot()

    # -- uninterrupted reference run of the to-be-killed site ------------
    ref_dir = tmp_path / "ref-state"
    ref = CrawlEngine(
        spark, CrawlSites([hot]).to_seeds_df(spark), fetcher,
        robots=robots, state_dir=str(ref_dir / "hot"),
    ).run()
    assert ref.total_scheduled > 0
    # the simulator models this run (the kill sweep below compares with it)
    assert ref.scheduled_per_wave == hot_sim.scheduled_per_wave
    assert _seen_set(ref) == hot_sim.seen

    # -- boot 1: cycle dies mid-crawl on 'hot' (2 waves committed) -------
    root = tmp_path / "sched-state"
    base = engine_runner(spark, fetcher, robots=robots)
    boot1_partial = {}

    def killing_runner(site, run_id):
        if site.job_id == "hot":
            # run two waves (checkpoints commit under the real state
            # dir), then die before the scheduler can unlink the entry
            partial = engine_runner(spark, fetcher, robots=robots, max_waves=2)(
                site, run_id, state_dir=str(root / site.job_id)
            )
            boot1_partial["result"] = partial
            raise KilledMidCrawl(run_id)
        base(site, run_id, state_dir=str(root / site.job_id))

    sched1 = CrawlScheduler(sites, root, killing_runner)
    sched1.schedule_due()
    assert sched1.store.count_pending_jobs() == 2
    with pytest.raises(KilledMidCrawl):
        sched1.run_pending()  # agency-a completes, hot dies mid-crawl
    assert [j["job_id"] for j in sched1.store.get_all_pending_jobs()] == ["hot"]

    # -- boot 2: replay resumes the interrupted crawl ---------------------
    replayed_results = {}

    def recording_runner(site, run_id):
        replayed_results[run_id] = base(
            site, run_id, state_dir=str(root / site.job_id)
        )

    sched2 = CrawlScheduler(sites, root, recording_runner)
    replayed = sched2.trigger_pending_jobs()
    assert replayed == ["Rerun::hot"]
    assert sched2.store.count_pending_jobs() == 0

    resumed = replayed_results["Rerun::hot"]
    partial = boot1_partial["result"]
    # resumed, not restarted: the replay's first wave index continues
    # past boot 1's committed waves instead of starting at 0
    assert resumed.waves[0].wave == len(partial.waves)
    # per-wave schedule across the kill equals the uninterrupted run's
    assert (
        partial.scheduled_per_wave + resumed.scheduled_per_wave
        == ref.scheduled_per_wave
    )
    # and the final URL-seen set is bit-identical
    assert _seen_set(resumed) == _seen_set(ref)

    # -- boot 3: nothing left to replay (once and only once) -------------
    sched3 = CrawlScheduler(sites, root, recording_runner)
    assert sched3.trigger_pending_jobs() == []


def test_completed_job_killed_before_unlink_is_noop(spark, world, tmp_path, monkeypatch):
    """The protocol's only at-least-once window: the crawl finished but
    the process died before the pending entry was removed. The replay
    must resume from the drained frontier and terminate without
    scheduling anything (idempotent, no duplicate output), and it builds
    one engine: run-vs-resume is read off the state dir, not off a probe
    engine."""
    fetcher, robots = world
    sites = _sites()
    root = tmp_path / "state"
    base = engine_runner(spark, fetcher, robots=robots)

    def complete_then_die(site, run_id):
        base(site, run_id, state_dir=str(root / site.job_id))
        raise KilledMidCrawl(run_id)  # after completion, before unlink

    sched1 = CrawlScheduler(sites, root, complete_then_die)
    sched1.schedule_due(due=["hot"])
    with pytest.raises(KilledMidCrawl):
        sched1.run_pending()

    replayed_results = {}

    def recording_runner(site, run_id):
        replayed_results[run_id] = base(
            site, run_id, state_dir=str(root / site.job_id)
        )

    engines = []
    init = CrawlEngine.__init__

    def counting_init(self, *args, **kwargs):
        engines.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(CrawlEngine, "__init__", counting_init)
    sched2 = CrawlScheduler(sites, root, recording_runner)
    assert sched2.trigger_pending_jobs() == ["Rerun::hot"]
    assert replayed_results["Rerun::hot"].total_scheduled == 0
    assert len(engines) == 1


KILL_POINTS = ("seen", "documents", "frontier", "commit")


class Killed(RuntimeError):
    pass


@pytest.mark.parametrize("offset", range(len(KILL_POINTS)))
def test_resume_after_kill_in_every_wave(spark, world, hot_sim, tmp_path, monkeypatch, offset):
    """Crash-point sweep: the crawl of `hot` is killed once in every wave
    and resumed from its newest commit each time. Commit ``c`` (wave
    ``c - 1``) is killed right after its seen write, documents write,
    frontier write or commit: point ``(c + offset) % 4``, so the four
    chains together kill every wave at every point. The commit records
    must then hold the uninterrupted run's per-wave schedule and seen set,
    and the documents each once; the killed waves' uncommitted writes and
    a torn temp record are ignored by every resume and removed by
    ``expire``."""
    fetcher, robots = world
    seeds = CrawlSites([_hot()]).to_seeds_df(spark)
    state = tmp_path / "state"
    store = ParquetStateStore(spark, str(state))
    n = len(hot_sim.scheduled_per_wave)
    kill = None

    write, commit = ParquetStateStore.write, ParquetStateStore.commit

    def killing_write(self, df, name, wave):
        out = write(self, df, name, wave)
        if kill == (name, wave):
            raise Killed(kill)
        return out

    def killing_commit(self, wave, metrics=None):
        commit(self, wave, metrics)
        if kill == ("commit", wave):
            raise Killed(kill)

    monkeypatch.setattr(ParquetStateStore, "write", killing_write)
    monkeypatch.setattr(ParquetStateStore, "commit", killing_commit)

    def resume():
        return CrawlEngine.resume(spark, seeds, fetcher, robots=robots, state_dir=str(state))

    for c in range(1, n + 1):
        kill = (KILL_POINTS[(c + offset) % len(KILL_POINTS)], c)
        with pytest.raises(Killed):
            if c == 1:
                CrawlEngine(spark, seeds, fetcher, robots=robots, state_dir=str(state)).run()
            else:
                resume()
        assert store.newest() == (c if kill[0] == "commit" else c - 1)
        if c == 1:  # a crash mid-commit leaves a torn temp record
            (state / "commits" / f"wave={n + 1}.json.tmp").write_text('{"layout": 1, "wa')
    kill = None
    final = resume()
    assert final.scheduled_per_wave == hot_sim.scheduled_per_wave[n - len(final.waves):]

    assert store.newest() == n
    metrics = [store.record(c)["metrics"] for c in range(1, n + 1)]
    assert [m["wave"] for m in metrics] == list(range(n))
    assert [m["scheduled"] for m in metrics] == hot_sim.scheduled_per_wave
    seen = [r["canon_url"] for r in store.read_accumulated("seen").collect()]
    assert len(seen) == len(set(seen)) and set(seen) == hot_sim.seen
    docs = [r["doc_id"] for r in store.read_accumulated("documents").collect()]
    assert len(docs) == len(set(docs)) == hot_sim.documents

    def on_disk():
        return {p.relative_to(state).as_posix() for p in state.glob("*/*/*.parquet")}

    committed = {f["path"] for c in range(n + 1) for t in store.record(c)["tables"].values() for f in t["files"]}
    assert on_disk() - committed  # the killed waves' uncommitted writes
    assert list(state.glob("*/*.tmp")) and store.expire(keep_last=1) == n
    assert not list(state.glob("*/*.tmp"))
    assert on_disk() == {f["path"] for t in store.record()["tables"].values() for f in t["files"]}
    assert store.rows("seen") == len(hot_sim.seen)


def test_older_layout_state_dir_fails_clearly(spark, world, tmp_path, monkeypatch):
    """A state dir in the older per-table manifests/ layout is refused,
    by name, wherever a crawl would resume or start in it; none of the
    entry points starts a fresh crawl over it."""
    fetcher, robots = world
    hot = _hot()
    seeds = CrawlSites([hot]).to_seeds_df(spark)
    old = tmp_path / "old"
    (old / "manifests" / "frontier").mkdir(parents=True)
    (old / "manifests" / "frontier" / "wave=0.json").write_text("{}")
    seeds_p, pages_p = str(tmp_path / "seeds"), str(tmp_path / "pages")
    seeds.write.parquet(seeds_p)
    fetcher.pages.write.parquet(pages_p)
    monkeypatch.syspath_prepend(str(Path(__file__).parent.parent / "jobs"))
    import crawl_job

    job_args = ["--seeds", seeds_p, "--pages", pages_p, "--state-dir", str(old)]
    entry_points = [
        lambda: CrawlEngine.resume(spark, seeds, fetcher, robots=robots, state_dir=str(old)),
        lambda: engine_runner(spark, fetcher, robots=robots)(hot, "hot", state_dir=str(old)),
        lambda: crawl_job.main([*job_args, "--resume"]),
        lambda: crawl_job.main(job_args),
    ]
    for start in entry_points:
        with pytest.raises(ValueError, match="older per-table manifests/ layout"):
            start()
    assert [p.name for p in old.iterdir()] == ["manifests"]


def test_crawl_job_resume_outputs_the_whole_crawl(spark, world, hot_sim, tmp_path, monkeypatch):
    """``jobs/crawl_job.py``: a second run without ``--resume`` over the
    state dir of a stopped crawl is refused, and ``--resume --output``
    writes the documents of the whole crawl, the first run's waves
    included."""
    fetcher, robots = world
    seeds_p, pages_p, robots_p = (str(tmp_path / n) for n in ("seeds", "pages", "robots"))
    CrawlSites([_hot()]).to_seeds_df(spark).write.parquet(seeds_p)
    fetcher.pages.write.parquet(pages_p)
    robots.write.parquet(robots_p)
    monkeypatch.syspath_prepend(str(Path(__file__).parent.parent / "jobs"))
    import crawl_job

    state, out = tmp_path / "state", tmp_path / "documents"
    job_args = ["--seeds", seeds_p, "--pages", pages_p, "--robots", robots_p, "--state-dir", str(state)]
    first = crawl_job.main([*job_args, "--max-waves", "2"])
    with pytest.raises(ValueError, match="already holds a crawl"):
        crawl_job.main(job_args)
    second = crawl_job.main([*job_args, "--resume", "--output", str(out)])
    assert first.scheduled_per_wave + second.scheduled_per_wave == hot_sim.scheduled_per_wave
    docs = spark.read.parquet(str(out))
    assert docs.count() == docs.select("doc_id").distinct().count() == hot_sim.documents


def test_crawl_job_resume_honours_max_waves(spark, world, hot_sim, tmp_path, monkeypatch):
    """``--max-waves`` bounds a ``--resume`` run too, by wave number as in
    ``run_from``: ``--max-waves 1`` then ``--resume --max-waves 2`` runs
    exactly wave 1. ``engine_runner``'s resume branch (a ``Rerun::``
    replay) keeps its bound the same way."""
    fetcher, robots = world
    seeds_p, pages_p, robots_p = (str(tmp_path / n) for n in ("seeds", "pages", "robots"))
    CrawlSites([_hot()]).to_seeds_df(spark).write.parquet(seeds_p)
    fetcher.pages.write.parquet(pages_p)
    robots.write.parquet(robots_p)
    monkeypatch.syspath_prepend(str(Path(__file__).parent.parent / "jobs"))
    import crawl_job

    state = tmp_path / "state"
    job_args = ["--seeds", seeds_p, "--pages", pages_p, "--robots", robots_p, "--state-dir", str(state)]
    first = crawl_job.main([*job_args, "--max-waves", "1"])
    second = crawl_job.main([*job_args, "--resume", "--max-waves", "2"])
    assert [w.wave for w in first.waves] == [0] and [w.wave for w in second.waves] == [1]
    replay = engine_runner(spark, fetcher, robots=robots, max_waves=3)(_hot(), "hot", state_dir=state)
    assert [w.wave for w in replay.waves] == [2]
    assert [w.scheduled for w in first.waves + second.waves + replay.waves] == hot_sim.scheduled_per_wave[:3]
