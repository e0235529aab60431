"""One-command judge-reproducibility harness (VERDICT r6 ask #8).

Runs the three commands every judge re-runs by hand each round —

    python -m pytest tests/ -q                      (unit + plan tests)
    python scripts/check_correctness.py <sf_dir>     (full oracle sweep)
    python bench.py                                  (headline bench)

— and emits ONE JSON artifact (``VERIFY.json`` at the repo root, also
printed as the final stdout line) with the pass/fail counts, sweep
failures by name, the bench headline, and wall-clock for each step.

Usage:
    python scripts/judge_verify.py              # full: pytest + sf0.01 sweep + sf0.1 bench
    python scripts/judge_verify.py --fast       # smoke: sf0.001 sweep, sf0.01 bench
    python scripts/judge_verify.py --skip-bench # correctness only

(or ``make verify`` / ``make verify-fast``).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], env: dict | None = None) -> tuple[int, str, float]:
    t0 = time.time()
    proc = subprocess.run(
        cmd,
        cwd=ROOT,
        env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    return proc.returncode, proc.stdout, round(time.time() - t0, 1)


def main() -> int:
    fast = "--fast" in sys.argv
    skip_bench = "--skip-bench" in sys.argv
    sweep_sf = "/root/testdata/sf0.001" if fast else "/root/testdata/sf0.01"
    bench_sf = "/root/testdata/sf0.01" if fast else "/root/testdata/sf0.1"
    out: dict = {"mode": "fast" if fast else "full"}

    print(f"== pytest tests/ -q", flush=True)
    rc, log, dt = _run([sys.executable, "-m", "pytest", "tests/", "-q"])
    tail = log.strip().splitlines()[-1] if log.strip() else ""
    m = re.search(r"(\d+) passed", tail)
    out["pytest"] = {
        "ok": rc == 0,
        "passed": int(m.group(1)) if m else 0,
        "failed": (lambda f: int(f.group(1)) if f else 0)(
            re.search(r"(\d+) failed", tail)
        ),
        "summary": tail[-160:],
        "wall_s": dt,
    }
    print(f"   {tail}")

    print(f"== correctness sweep @ {sweep_sf}", flush=True)
    rc, log, dt = _run(
        [
            sys.executable, "scripts/check_correctness.py", sweep_sf,
            "--json-out", os.path.join(ROOT, "SWEEP_full.json"),
        ]
    )
    fails = re.findall(r"^FAIL\s+(\S+?):", log, re.M)
    counts = {
        "passed": len(re.findall(r"^ok\s", log, re.M)),
        "weak_no_oracle": len(re.findall(r"^weak\s", log, re.M)),
    }
    out["correctness"] = {
        "ok": rc == 0 and not fails,
        "sf_dir": sweep_sf,
        **counts,
        "failures": sorted(set(fails)),
        "per_query": "SWEEP_full.json",
        "wall_s": dt,
    }
    print(f"   {counts} failures={sorted(set(fails))}")

    if not skip_bench:
        print(f"== bench @ {bench_sf}", flush=True)
        rc, log, dt = _run(
            [sys.executable, "bench.py"], env={"SPARK_GRAFT_SF_DIR": bench_sf}
        )
        headline = None
        for line in reversed(log.strip().splitlines()):
            if line.startswith("{"):
                try:
                    headline = json.loads(line)
                except json.JSONDecodeError:
                    pass
                break
        out["bench"] = {
            "ok": rc == 0 and headline is not None,
            "sf_dir": bench_sf,
            "headline_s": (headline or {}).get("value"),
            "wall_s": dt,
        }
        print(f"   headline={out['bench']['headline_s']}s in {dt}s")

    out["ok"] = all(v.get("ok") for v in out.values() if isinstance(v, dict))
    with open(os.path.join(ROOT, "VERIFY.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
