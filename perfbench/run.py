"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline|evaluator \\
        --seed N --seconds S --trace 0|1 [--trace-out FILE] [--sf 0.1] \\
        [--content-checks 1]

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. Progress, the environment stamp and
the per-query/trace summary go to standard error. Everything a run writes
(generated inputs, Spark local and temp dirs, stream checkpoints) lives
in a per-run directory under ``perfbench/.run/`` that is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

APP = "perfbench"


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark and its workers into the
    run directory; return the Spark confs that do the same."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{ROOT}:{pp}" if pp else ROOT
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def warm_up(spark) -> None:
    """One job through Python workers on every core."""
    n = nproc()
    got = spark.sparkContext.parallelize(range(n), n).map(lambda x: x + 1).sum()
    if got != n * (n + 1) // 2:
        raise RuntimeError(f"warm-up returned {got}")


def set_up(tracer, conf: dict[str, str]):
    """Launch the JVM and session with ``get_spark`` and warm it up;
    returns the session and the (total, get_spark, warm-up) seconds."""
    from python_plugins_spark import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.setup", op="setup"):
        with tracer.span("session.get_spark"):
            spark = get_spark(APP, extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            warm_up(spark)
    t2 = time.perf_counter()
    return spark, (t2 - t0, t1 - t0, t2 - t1)


def shut_down(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Context:
    """What a workload receives: the session, hooks and its run dir."""

    def __init__(self, spark, probe, tracer, run_dir: str, seed: int):
        self.spark, self.probe, self.tracer = spark, probe, tracer
        self.run_dir, self.seed = run_dir, seed
        self.samplers = []
        self.log = log

    @contextlib.contextmanager
    def rss(self):
        """Sample memory over a measured window; traced runs only, since
        the memory metrics are per-layer ones."""
        from perfbench.trace import RssSampler

        if not self.tracer.enabled:
            yield None
            return
        sampler = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.samplers.append(sampler)
        with sampler:
            yield sampler


def end_to_end(res, setup) -> dict[str, float]:
    from perfbench import stats

    return {
        "setup_s": setup[0],
        "pass_s": stats.median(res.pass_s),
        "latency_p50_s": stats.percentile(res.latencies, 50),
    }


# per-layer values that describe the whole run rather than one batch pass
_PER_RUN = ("streaming.", "self.stream.", "gen.", "mem.", "session.", "trace.", "transform.error_rows")


def per_layer(res, setup, samplers, tracer, e2e, layer_names) -> dict[str, float]:
    """Per-layer metrics: batch-pass layers per pass, the rest per run."""
    from perfbench.trace import self_times

    passes = max(1, res.passes)
    out = {name: 0.0 for name in layer_names}
    for k, v in res.layers.items():
        if k in out:
            out[k] = v
    out["session.get_spark_s"] = setup[1]
    out["session.warmup_s"] = setup[2]
    out["mem.peak_rss_mb"] = max(s.peak_total_kb for s in samplers) / 1024.0
    out["mem.jvm_rss_mb"] = max(s.jvm_peak_kb() for s in samplers) / 1024.0
    out["mem.py_workers_pss_mb"] = max(s.peak_workers_kb for s in samplers) / 1024.0
    out["mem.py_workers"] = float(max(s.max_workers for s in samplers))
    measured = [sp for sp in tracer.spans if not sp.name.startswith("session.")]
    for name, v in self_times(measured).items():
        key = f"self.{name}_s"
        if key in out:
            out[key] = v
    for k in out:
        if not k.startswith(_PER_RUN):
            out[k] /= passes
    # a ratio of two totals, so it is the same per pass and per run
    rows = res.layers.get("transform.rows_from_py", 0.0)
    if rows:
        out["transform.us_per_record"] = 1e6 * res.layers.get("transform.py_total_task_s", 0.0) / rows
    out["trace.pass_s"] = e2e["pass_s"]
    out["trace.latency_p50_s"] = e2e["latency_p50_s"]
    out["trace.spans"] = float(len(tracer.spans))
    return out


def cpu_steal_s() -> float:
    """Seconds the hypervisor took from this machine's CPUs so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def environment(args, spark, load_start, steal_start) -> dict:
    n = nproc()
    return {
        "nproc": n,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "overloaded_at_start": load_start[0] > n,
        "cpu_steal_s": cpu_steal_s() - steal_start,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": spark._jvm.System.getProperty("java.version"),
        "git_head": git_head(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["headline", "evaluator"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--trace-out", help="with --trace 1, write spans and counters to this JSON file")
    p.add_argument("--sf", type=float, default=0.1,
                   help="input scale: headline star schema scale factor; evaluator rows scale with it")
    # re-collecting all 22 queries would add a warm pass to every run, so
    # runs check one seeded pick and the smoke test checks all of them
    p.add_argument("--content-checks", type=int, default=1,
                   help="headline queries (seeded pick) whose content hash is checked after the timed pass")
    args = p.parse_args(argv)

    try:
        import python_plugins_spark  # noqa: F401
    except ImportError as exc:
        log(f"engine not importable from {ROOT}: {exc}")
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer

    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    load_start = os.getloadavg()
    steal_start = cpu_steal_s()
    run_root = os.path.join(HERE, ".run")
    os.makedirs(run_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=run_root)
    spark = probe = None
    try:
        conf = prepare_env(run_dir)
        tracer = Tracer(enabled=bool(args.trace))
        spark, setup = set_up(tracer, conf)
        log(f"set-up: {setup[0]:.2f}s")
        probe = workloads.Probe(spark, tracer)
        ctx = Context(spark, probe, tracer, run_dir, args.seed)
        kwargs = {}
        if args.workload == "headline":
            kwargs["scale"] = args.sf
            kwargs["content_checks"] = args.content_checks
        elif args.workload == "evaluator":
            kwargs["rows"] = max(1000, int(workloads.EVALUATOR_ROWS * args.sf / 0.1))
        res = workloads.WORKLOADS[args.workload](ctx, args.seconds, **kwargs)
        env = environment(args, spark, load_start, steal_start)
        env["gen_late_max_s"] = res.notes.get("gen_late_max_s")
        e2e = end_to_end(res, setup)
        if args.trace:
            names = [m["name"] for m in bench["per_layer"]]
            metrics = per_layer(res, setup, ctx.samplers, tracer, e2e, names)
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        probe.close()
        probe = None
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        log("shutting down")
        if probe is not None:
            with contextlib.suppress(Exception):
                probe.close()
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(run_root)

    print(json.dumps({"env": env, "notes": res.notes, "passes": res.passes}, default=str), file=sys.stderr)
    if args.trace_out and args.trace:
        with open(args.trace_out, "w") as fh:
            json.dump({
                "env": env,
                "spans": [sp.__dict__ for sp in tracer.spans],
                "layers": dict(res.layers),
                "plan_nodes": dict(ctx.probe.sql.nodes),
            }, fh, default=str)
    if env["overloaded_at_start"]:
        log(f"load average {load_start[0]:.2f} exceeded nproc {env['nproc']} at start")
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
