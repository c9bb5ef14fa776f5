"""Cluster entry point for the crawl engine.

Ship the library as a zip and submit this script as the driver program
(BASELINE north rule: "run via spark-submit --py-files on a
multi-executor cluster"):

    python tools/package.py                     # -> dist/searchgov_spider_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/searchgov_spider_spark.zip \
        jobs/crawl_job.py \
        --seeds  s3a://.../seeds.parquet \
        --state-dir s3a://.../crawl-state \
        --http --max-waves 64 \
        --output s3a://.../documents

In-sandbox smoke (replay fetcher, local master comes from spark-submit):

    spark-submit --master 'local[4]' \
        --py-files dist/searchgov_spider_spark.zip \
        jobs/crawl_job.py --seeds <seeds.parquet> --pages <pages.parquet> \
        --state-dir /tmp/crawl-state --max-waves 3

The session factory leaves the master to spark-submit (it only defaults
to local[N] when no gateway JVM exists), so the same script runs
unchanged on YARN / k8s / standalone. State (frontier snapshots, seen
and documents deltas, per-wave metrics) commits under --state-dir as one
record per wave; rerunning with --resume continues from the newest
commit (P4). Without --resume the job refuses a --state-dir that already
holds a crawl. --output gets the documents of the whole crawl, the waves
of earlier runs included.
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="searchgov_spider_spark crawl driver")
    seeds = ap.add_mutually_exclusive_group(required=True)
    seeds.add_argument("--seeds", help="seeds parquet (FIXTURES.md schema)")
    seeds.add_argument(
        "--sites",
        help="crawl-sites JSON in the reference's config format "
        "(validated by sources/crawl_sites.py, reference crawl_sites.py parity)",
    )
    ap.add_argument("--state-dir", required=True, help="frontier/seen/documents checkpoint dir")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="replay pages parquet (sandbox / recorded-cache mode)")
    src.add_argument("--http", action="store_true", help="real HTTP fetch (mapInPandas urllib)")
    ap.add_argument(
        "--robots",
        help="optional parsed robots rules parquet (FIXTURES.md §4: domain, user_agent, "
        "allow_prefixes, disallow_prefixes, crawl_delay, sitemap_urls)",
    )
    ap.add_argument(
        "--max-waves", type=int, default=None, help="stop before this wave number, also on --resume"
    )
    ap.add_argument("--resume", action="store_true", help="continue from latest committed wave")
    ap.add_argument("--output", help="optional parquet dir for the crawl's documents table")
    ap.add_argument(
        "--schedule-cycle",
        action="store_true",
        help="multi-site scheduler mode (requires --sites): replay jobs a "
        "previous boot left pending (Rerun:: protocol, scheduling.py), "
        "then schedule + run every site once, one engine per site under "
        "<state-dir>/<job_id>",
    )
    return ap.parse_args(argv)


def run_schedule_cycle(spark, args, fetcher, robots):
    """Boot-time Rerun:: replay, then a full scheduling cycle."""
    from searchgov_spider_spark.scheduling import CrawlScheduler, engine_runner
    from searchgov_spider_spark.sources.crawl_sites import CrawlSites

    sites = CrawlSites.from_file(args.sites)
    base = engine_runner(spark, fetcher, robots=robots, max_waves=args.max_waves)

    def runner(site, run_id):
        base(site, run_id, state_dir=f"{args.state_dir}/{site.job_id}")

    sched = CrawlScheduler(sites, args.state_dir, runner)
    replayed = sched.trigger_pending_jobs()
    sched.schedule_due()
    completed = sched.run_pending()
    print(json.dumps({"replayed": replayed, "completed": completed}))
    return replayed, completed


def main(argv=None):
    args = parse_args(argv)

    from searchgov_spider_spark.plans.crawl import CrawlEngine
    from searchgov_spider_spark.session import get_spark
    from searchgov_spider_spark.sources.fetch import HttpFetcher, TablePageFetcher

    if args.schedule_cycle and not args.sites:
        raise SystemExit("--schedule-cycle requires --sites")
    spark = get_spark("searchgov-crawl")
    fetcher = HttpFetcher() if args.http else TablePageFetcher(spark.read.parquet(args.pages))
    robots = spark.read.parquet(args.robots) if args.robots else None
    if args.schedule_cycle:
        return run_schedule_cycle(spark, args, fetcher, robots)
    if args.sites:
        from searchgov_spider_spark.sources.crawl_sites import CrawlSites

        seeds = CrawlSites.from_file(args.sites).to_seeds_df(spark)
    else:
        seeds = spark.read.parquet(args.seeds)

    if args.resume:
        result = CrawlEngine.resume(
            spark, seeds, fetcher, args.state_dir, robots=robots, max_waves=args.max_waves
        )
    else:
        engine = CrawlEngine(spark, seeds, fetcher, args.state_dir, robots=robots)
        result = engine.run(max_waves=args.max_waves)

    for w in result.waves:
        print(json.dumps(w.__dict__))
    if args.output and result.documents is not None:
        result.documents.write.mode("overwrite").parquet(args.output)
    return result


if __name__ == "__main__":
    main()
