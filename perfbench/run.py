"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload on ``local[<cores>]`` from the root of a checkout, checks
its outputs against an independent oracle and prints, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics from a separate traced pass with ``--trace 1``. A line
before it records the run's host interference (CPU steal). Everything
the run writes lives under ``.perfbench/`` in the checkout; the run's own
directory, Spark's local dirs included, is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("crawl_polite", "analytics")
SETUP_REPEATS = 5


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    trace: bool
    run_dir: Path
    tracer: object
    setup_repeats: int = SETUP_REPEATS


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM plus this Python driver's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(p.name))
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers the JVM
    started, and wait until each has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = []
    for c in _children(proc.pid) if proc else []:
        workers += [c, *_children(c)]
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{w}").exists() for w in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "searchgov_spider_spark").is_dir():
        print(f"perfbench: no searchgov_spider_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_dir = ROOT / ".perfbench" / "traces"
    (run_dir / "tmp").mkdir(parents=True)
    trace_dir.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, str(ROOT))

    from searchgov_spider_spark.session import get_spark

    from perfbench import analytics, crawl
    from perfbench.metrics import result_line
    from perfbench.trace import Tracer

    runners = {"crawl_polite": crawl.run, "analytics": analytics.run}
    cpu0 = cpu_times()
    spark = None
    try:
        t = time.monotonic()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}"},
        )
        spark.range(1).count()
        session_s = time.monotonic() - t
        run_id = f"{args.workload}-{args.seed}"
        tracer = Tracer(spark, run_id) if args.trace else None
        ctx = Context(spark, args.seed, args.seconds, bool(args.trace), run_dir, tracer)
        out = runners[args.workload](ctx)
        metrics = out["metrics"]
        steal = steal_pct(cpu0, cpu_times())
        if args.trace:
            metrics.update({
                "peak_rss_mb": peak_rss_mb(spark), "setup.session_s": session_s, "host.steal_pct": steal,
            })
            tracer.dump(trace_dir / f"{run_id}.jsonl")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "steal_pct": round(steal, 2), "op_s": [round(x, 3) for x in out["ops"]],
    }))
    print(result_line(out["attempted"], out["failed"], metrics, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
