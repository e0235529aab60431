"""Tracing overhead: traced minus untraced, per workload.

    python3 perfbench/overhead.py --workload headline --runs 3

Runs ``run.py`` alternately untraced and traced with seeds 1..N, each for
``run_seconds`` of ``BENCHMARK.json``, and prints the medians of
``pass_s`` / ``latency_p50_s`` against the traced runs' ``trace.pass_s``
/ ``trace.latency_p50_s``, and their differences.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import median  # noqa: E402

PAIRS = (("pass_s", "trace.pass_s"), ("latency_p50_s", "trace.latency_p50_s"))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"run failed ({proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=3)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in range(1, args.runs + 1):
        for trace, into in ((0, plain), (1, traced)):
            for name, m in run_once(args.workload, seed, seconds, trace).items():
                into.setdefault(name, []).append(m["value"])
    out = {}
    for untraced_name, traced_name in PAIRS:
        u, t = median(plain[untraced_name]), median(traced[traced_name])
        out[untraced_name] = {"untraced": u, "traced": t, "overhead": t - u, "overhead_share": (t - u) / u}
    print(json.dumps({"workload": args.workload, "runs": args.runs, "seconds": seconds, "overhead": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
