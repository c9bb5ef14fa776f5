"""Scaling-efficiency evidence for the north_rule (>= 0.8 at 4N vs N).

No real cluster exists in this sandbox, so the same bench job runs at two
parallelism levels on identical input — local[4] (N) and local[16] (4N) by
default — in separate JVMs. Strong-scaling efficiency = (T_N / T_4N) / 4.

Prints one JSON object: the crawl-wave seconds at both sizes, the
efficiency and each leg's full bench.py result (throughput, per-query
timings, steal). It writes no file; curate BENCH.md by hand from it.

Usage: python tools/scaling_bench.py [frontier_n]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def run_bench(cpus: int, frontier_n: int, sf_dir: str) -> dict:
    # Default: identical 24g heap at both parallelism levels (conservative).
    # SPARK_GRAFT_MEM_PER_CORE=<g> switches to the multi-executor analog —
    # a 4N-executor cluster has 4x the total memory of an N-executor one,
    # so the heap scales with the core count (per-executor memory constant).
    per_core = os.environ.get("SPARK_GRAFT_MEM_PER_CORE")
    mem = f"{int(per_core) * cpus}g" if per_core else "24g"
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_FRONTIER_N=str(frontier_n),
        SPARK_GRAFT_SF_DIR=sf_dir,
        # shuffle partitions sized to the core count at both scales
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=mem,
    )
    out = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True, env=env, timeout=3600
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main():
    frontier_n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    t0 = time.time()
    # alternate legs so host-noise epochs hit both parallelism levels;
    # keep the best (min) run per leg — each run is itself min-of-trials
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "2"))
    # N and 4N cores. local[8]/local[32] oversubscribes the 32-vCPU box on
    # pandas-UDF stages (JVM threads + python workers = 2x cores), so the
    # default pairing is local[4] vs local[16]: same 4x ratio, neither leg
    # oversubscribed -- the honest single-box analog of adding executors.
    n_small, n_big = (int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEGS", "4,16").split(","))
    small = big = None
    for _ in range(rounds):
        a = run_bench(n_small, frontier_n, sf_dir)
        b = run_bench(n_big, frontier_n, sf_dir)
        if small is None or a["queries"]["crawl_wave"] < small["queries"]["crawl_wave"]:
            small = a
        if big is None or b["queries"]["crawl_wave"] < big["queries"]["crawl_wave"]:
            big = b
    t_small, t_big = small["queries"]["crawl_wave"], big["queries"]["crawl_wave"]
    eff = (t_small / t_big) / (n_big / n_small)
    print(json.dumps({
        "frontier_n": frontier_n,
        "cpus": [n_small, n_big],
        "crawl_wave_s": [t_small, t_big],
        "efficiency": round(eff, 3),
        "wall_s": round(time.time() - t0),
        "runs": [small, big],
    }))


if __name__ == "__main__":
    main()
