"""Scheduler-restart replay (scheduling.py) — the Rerun:: pending-job
protocol of the reference's scheduling/schedulers.py:75-99: a scheduler
killed mid-schedule replays exactly the interrupted jobs on re-boot,
once and only once, under Rerun::-prefixed ids."""

from __future__ import annotations

import pytest

from searchgov_spider_spark.scheduling import (
    RERUN_PREFIX,
    CrawlScheduler,
    PendingJobStore,
)
from searchgov_spider_spark.sources.crawl_sites import CrawlSite, CrawlSites


def _site(name: str) -> CrawlSite:
    # (allowed_domains, output_target) must be file-unique (reference
    # crawl_sites.py:118-141) -> one subdomain per site
    return CrawlSite(
        name=name,
        allow_query_string=True,
        allowed_domains=f"{name}.example.com",
        handle_javascript=False,
        output_target="csv",
        starting_urls=f"https://{name}.example.com",
        depth_limit=3,
        schedule="0 4 * * 1",
    )


class Crash(RuntimeError):
    """The scheduler process dying mid-cycle."""


def _crashing(runner, after: int):
    """``runner`` that runs ``after`` jobs, then raises ``Crash`` as the
    next job starts (its pending entry is never removed)."""
    calls = 0

    def run(site, run_id):
        nonlocal calls
        if calls >= after:
            raise Crash(site.job_id)
        calls += 1
        runner(site, run_id)

    return run


@pytest.fixture()
def sites() -> CrawlSites:
    return CrawlSites([_site("alpha"), _site("beta"), _site("gamma")])


def test_restart_replays_pending_exactly_once(sites, tmp_path):
    """Boot -> kill after 1 of 3 scheduled jobs -> re-boot: the two
    interrupted jobs replay under Rerun:: ids; overall every site ran
    once and only once; the pending store drains."""
    runs: list[tuple[str, str]] = []  # (job_id, run_id) across BOTH boots

    def runner(site, run_id):
        runs.append((site.job_id, run_id))

    sched = CrawlScheduler(sites, tmp_path, _crashing(runner, after=1))
    assert sched.schedule_due() == ["alpha", "beta", "gamma"]
    assert sched.store.count_pending_jobs() == 3

    with pytest.raises(Crash):
        sched.run_pending()  # alpha completes, then crash
    assert [r for r, _ in runs] == ["alpha"]
    assert sched.store.count_pending_jobs() == 2  # beta, gamma survive

    # --- scheduler restart: a brand-new instance over the same store ---
    sched2 = CrawlScheduler(sites, tmp_path, runner)
    replayed = sched2.trigger_pending_jobs()
    assert replayed == [f"{RERUN_PREFIX}beta", f"{RERUN_PREFIX}gamma"]

    # once and only once, across the restart
    assert sorted(j for j, _ in runs) == ["alpha", "beta", "gamma"]
    # the replayed jobs carry the Rerun:: id, the original does not
    run_ids = dict(runs)
    assert run_ids["alpha"] == "alpha"
    assert run_ids["beta"] == f"{RERUN_PREFIX}beta"
    assert run_ids["gamma"] == f"{RERUN_PREFIX}gamma"
    assert sched2.store.count_pending_jobs() == 0

    # second boot over the drained store is a no-op (no double replay)
    assert sched2.trigger_pending_jobs() == []
    assert sorted(j for j, _ in runs) == ["alpha", "beta", "gamma"]


def test_crash_before_any_run_replays_all(sites, tmp_path):
    runs = []
    sched = CrawlScheduler(sites, tmp_path, _crashing(lambda s, r: runs.append(r), after=0))
    sched.schedule_due()
    with pytest.raises(Crash):
        sched.run_pending()  # due but nothing started
    assert runs == []

    sched2 = CrawlScheduler(sites, tmp_path, lambda s, r: runs.append(r))
    assert sched2.trigger_pending_jobs() == [
        f"{RERUN_PREFIX}alpha", f"{RERUN_PREFIX}beta", f"{RERUN_PREFIX}gamma"
    ]
    assert len(runs) == 3 and sched2.store.count_pending_jobs() == 0


def test_completed_jobs_never_replay(sites, tmp_path):
    runs = []
    sched = CrawlScheduler(sites, tmp_path, lambda s, r: runs.append(s.job_id))
    sched.schedule_due()
    sched.run_pending()  # clean cycle, no crash
    assert sorted(runs) == ["alpha", "beta", "gamma"]

    sched2 = CrawlScheduler(sites, tmp_path, lambda s, r: runs.append(s.job_id))
    assert sched2.trigger_pending_jobs() == []  # nothing pending -> no rerun
    assert sorted(runs) == ["alpha", "beta", "gamma"]


def test_rerun_prefix_is_not_stacked(tmp_path):
    """An entry persisted under an already-prefixed id (a crash DURING a
    replay) re-surfaces as Rerun::job, never Rerun::Rerun::job."""
    store = PendingJobStore(tmp_path)
    store.add_pending_job(f"{RERUN_PREFIX}alpha", {"name": "alpha"})
    [job] = store.get_all_pending_jobs()
    assert job["rerun_id"] == f"{RERUN_PREFIX}alpha"


def test_partial_due_set_marks_only_due_sites(sites, tmp_path):
    sched = CrawlScheduler(sites, tmp_path, lambda s, r: None)
    assert sched.schedule_due(due=["beta"]) == ["beta"]
    assert [j["job_id"] for j in sched.store.get_all_pending_jobs()] == ["beta"]
