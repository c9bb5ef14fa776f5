"""Scheduler-restart replay — the reference's ``Rerun::`` pending-job
semantics (scheduling/schedulers.py:75-99) over a file-backed jobstore.

Reference flow: APScheduler cron triggers persist a pending entry (redis
jobstore) when a site's job comes due; the job run removes the entry on
completion. A scheduler restart calls ``trigger_pending_jobs``, which
re-adds every still-pending job under a ``Rerun::``-prefixed id, runs it
once, and removes it from the pending store — so a job that was due but
interrupted (or never started) replays exactly once after a crash, and a
completed job never replays.

This rebuild keeps the exact protocol but swaps redis for an atomic
file-per-job store (rename-commit, so a kill mid-write never leaves a
torn entry) and APScheduler for an explicit two-phase cycle:

1. ``schedule_due()``   — persist a pending entry per due site BEFORE
   anything runs (the cron-fire analog);
2. ``run_pending()``    — execute each pending job, removing its entry
   only after the run completes.

A kill at ANY point leaves each job in one of two states: pending entry
present and not yet completed (the next boot's ``trigger_pending_jobs``
reruns it under ``Rerun::{job_id}``), or entry removed after completion
(never rerun). The only at-least-once window — a crash between job
completion and entry removal — is the same window the reference has,
and is harmless here because the crawl job itself is idempotent: its
wave checkpoints under ``state_root/{job_id}`` make a rerun RESUME the
crawl (P4, ``CrawlEngine.resume``), not duplicate its output.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable
from pathlib import Path

from .sources.crawl_sites import CrawlSite, CrawlSites

RERUN_PREFIX = "Rerun::"


class PendingJobStore:
    """Atomic file-per-job pending store (redis jobstore analog)."""

    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)

    def _file(self, job_id: str) -> Path:
        return self.path / f"{job_id}.json"

    def add_pending_job(self, job_id: str, payload: dict) -> None:
        tmp = self._file(job_id).with_suffix(".tmp")
        tmp.write_text(json.dumps({"job_id": job_id, **payload}), encoding="UTF-8")
        os.replace(tmp, self._file(job_id))  # rename-commit: never torn

    def remove_pending_job(self, job_id: str) -> None:
        self._file(job_id).unlink(missing_ok=True)

    def count_pending_jobs(self) -> int:
        return len(list(self.path.glob("*.json")))

    def get_all_pending_jobs(self) -> list[dict]:
        """Pending entries in deterministic (job_id) order, each with the
        rerun id it should be re-added under — prefixed once, never
        ``Rerun::Rerun::`` (schedulers.py:81-99 parity)."""
        jobs = []
        for f in sorted(self.path.glob("*.json")):
            job = json.loads(f.read_text(encoding="UTF-8"))
            jid = job["job_id"]
            job["rerun_id"] = jid if jid.startswith(RERUN_PREFIX) else f"{RERUN_PREFIX}{jid}"
            jobs.append(job)
        return jobs


class CrawlScheduler:
    """Two-phase site scheduler with crash-safe exactly-once replay.

    ``runner`` is called as ``runner(site, run_id)`` for each job; the
    default production runner boots a per-site CrawlEngine under
    ``state_root/{job_id}`` (tests inject a recorder)."""

    def __init__(
        self,
        sites: CrawlSites,
        state_root: str | Path,
        runner: Callable[[CrawlSite, str], None],
    ):
        self.sites = sites
        self.state_root = Path(state_root)
        self.runner = runner
        self.store = PendingJobStore(self.state_root / "pending")
        self._by_id = {s.job_id: s for s in sites}

    # -- phase 1: cron-fire analog ---------------------------------------
    def schedule_due(self, due: Iterable[str] | None = None) -> list[str]:
        """Persist a pending entry for each due site (all sites when
        ``due`` is None). Returns the scheduled job_ids."""
        ids = []
        for site in self.sites:
            if due is not None and site.job_id not in set(due):
                continue
            self.store.add_pending_job(site.job_id, {"name": site.name})
            ids.append(site.job_id)
        return ids

    # -- phase 2: execution ----------------------------------------------
    def _run_one(self, job: dict, run_id: str) -> None:
        site = self._by_id[job["job_id"]]
        self.runner(site, run_id)
        self.store.remove_pending_job(job["job_id"])

    def run_pending(self) -> list[str]:
        """Run every pending job under its own id, removing each entry on
        completion (a crash leaves the rest pending). Returns completed
        run ids."""
        done: list[str] = []
        for job in self.store.get_all_pending_jobs():
            self._run_one(job, job["job_id"])
            done.append(job["job_id"])
        return done

    # -- boot-time replay (schedulers.py:75-99) ---------------------------
    def trigger_pending_jobs(self) -> list[str]:
        """Re-run every job the previous scheduler left pending, under
        ``Rerun::{job_id}`` ids, removing each on completion. Idempotent:
        a second call on a drained store is a no-op."""
        done: list[str] = []
        for job in self.store.get_all_pending_jobs():
            self._run_one(job, job["rerun_id"])
            done.append(job["rerun_id"])
        return done


def engine_runner(spark, fetcher, robots=None, max_waves: int | None = None):
    """Production runner: one CrawlEngine per site, checkpointed under
    state_root/{job_id} so a Rerun:: replay RESUMES an interrupted crawl
    instead of duplicating it.

    Resume is decided by the state dir itself, before any engine is
    built: a commit means a previous boot died mid-crawl (its pending
    entry is what routed us here), so continue from the newest commit
    (P4, ``CrawlEngine.resume``). A completed-then-killed-before-unlink job
    resumes from its drained frontier and terminates immediately — the
    at-least-once window degrades to a no-op, never duplicate output."""
    from .plans.crawl import CrawlEngine
    from .sources.state import ParquetStateStore

    def run(site: CrawlSite, run_id: str, state_dir: str | Path):
        seeds = CrawlSites([site]).to_seeds_df(spark)
        sd = str(state_dir)
        if ParquetStateStore(spark, sd).newest() is not None:
            return CrawlEngine.resume(spark, seeds, fetcher, sd, robots=robots, max_waves=max_waves)
        return CrawlEngine(spark, seeds, fetcher, sd, robots=robots).run(max_waves=max_waves)

    return run
