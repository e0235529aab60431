"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "runs_per_query": 3,
     "queries": {...}, "sf": ..., "env": {...}}

The headline queries are the 22 ``BENCH_QUERIES``. Each query is fully
materialized by ``perfbench``'s noop-format write, which computes every
output column with no driver-side row transfer. Each query runs 3 times, interleaved by round, so a transient load
spike costs one sample of many queries rather than every sample of one.
``queries`` holds the per-query medians and ``value`` their sum. ``env``
records the core count, the load average at start and end, and the CPU
seconds the hypervisor took from the machine during the run, which is
what moves the headline on a shared host.

Progress goes to stderr. For a before/after comparison of two commits,
use paired ``perfbench/run.py`` runs (see perfbench/README.md), not two
runs of this script.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench.run import cpu_steal_s, nproc
from perfbench.workloads import materialize_noop

N_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    load_start, steal_start = os.getloadavg(), cpu_steal_s()

    from python_plugins_spark import get_spark
    from python_plugins_spark.queries import BENCH_QUERIES, QUERIES

    spark = get_spark("bench")

    # Warm-up on the smallest SF: JIT, codegen and the parquet reader
    # paths, so the timed runs measure the engine rather than JVM start-up
    # billed to whichever query runs first.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in BENCH_QUERIES:
            try:
                materialize_noop(QUERIES[name](spark, warm_dir))
            except Exception as exc:  # never let warm-up kill the bench
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for run in range(N_RUNS):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            n = materialize_noop(QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            print(f"# [{run + 1}/{N_RUNS}] {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}

    env = {
        "nproc": nproc(),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_s": round(cpu_steal_s() - steal_start, 2),
    }
    print(json.dumps({
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "runs_per_query": N_RUNS,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env": env,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
