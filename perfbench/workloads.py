"""The two workloads and their output checks.

- ``headline``: the registry's 22 ``BENCH_QUERIES`` over a generated
  sf0.1 star schema, one client, closed loop, in registry order. Each
  query is timed from the registry call to the end of a noop-format
  write.
- ``evaluator``: the ``PythonEvaluator`` operator through
  ``run_pipeline``. First in batch (parquet -> transform.python ->
  groupby) over seeded mixed-type records, one client, closed loop;
  then on a stream, an open loop: a generator thread writes one parquet
  file of seeded events on a fixed schedule into a directory that a
  ``run_pipeline`` stream (file source -> transform.python ->
  foreachBatch sink) consumes.

Each workload returns a :class:`Result` with the end-to-end samples and,
when the tracer is on, the per-layer counters of its measured window.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import random
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import datagen, stats
from perfbench.oracles import frame_hash, headline_expectations
from perfbench.trace import PlanningListener, Py4jCounter, SqlHarvest

HEADLINE_SCALE = 0.1
# A batch pass costs ~2.4 s of per-pass set-up (Python workers, plan,
# shuffle) plus ~5.8 s per million rows on 4 cores. At 500k rows the
# row-proportional work (scan, Arrow conversion, the script, aggregation)
# is over half the pass; 1M would lengthen every evaluator run by ~15 s,
# more than 22 runs per workload can afford.
EVALUATOR_ROWS = 500_000
# The first pipeline run of a session costs ~13 s however few its rows
# (driver-side first use, Python worker start, JIT), so the untimed
# warm-up reads a leading slice of the table.
EVALUATOR_WARMUP_ROWS = 50_000
# A micro-batch costs ~0.5-1.4 s on 4 cores whatever its size, so files
# come slower than that: each gets a micro-batch of its own. At 2 or 3
# files/s batches run back to back, and the backlog turns a slow host
# into up to twice the latency. Events share their file's creation stamp
# and micro-batch, so a run's latencies come from ~6 files.
STREAM_FILE_INTERVAL_S = 2.0
STREAM_EVENTS_PER_FILE = 900
# micro-batch time keeps falling over the first few batches of a stream
STREAM_WARMUP_BATCHES = 3
STREAM_GRACE_S = 30.0
WARMUP_FIRST_ID = 1 << 40


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    passes: int = 0
    pass_s: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    notes: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failures", []).append(what)


class Probe:
    """Benchmark-side hooks around one operation: job groups, py4j
    counts, SQL status store and planning phases. Inert when tracing is
    off, so untraced runs make no extra gateway calls."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.on = tracer.enabled
        if self.on:
            from pyspark.java_gateway import ensure_callback_server_started

            gw = spark.sparkContext._gateway
            ensure_callback_server_started(gw)
            self.listener = PlanningListener()
            spark._jsparkSession.listenerManager().register(self.listener)
            self.sql = SqlHarvest(spark)
            self.py4j = Py4jCounter(gw)

    def close(self) -> None:
        if self.on:
            self.py4j.uninstall()
            self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def reset(self) -> None:
        """Drop what the engine recorded before a measured window."""
        if self.on:
            self.sql.skip()
            self.listener.take()

    def phase(self, op: str | None, name: str | None = None) -> None:
        if not self.on:
            return
        sc = self.spark.sparkContext
        if op is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{op}-{name}", f"pb:{op}:{name}")

    def jobs_in(self, op: str, name: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(f"pb-{op}-{name}"))

    def harvest(self, res: Result, op: str, wall: float, build_s: float) -> None:
        """Fold the status-store records of ``op`` into ``res.layers``."""
        if not self.on:
            return
        counters, sql_by_desc = self.sql.harvest()
        for k, v in counters.items():
            res.layers[k] += v
        exec_sql = sql_by_desc.get(f"pb:{op}:exec", 0.0)
        res.layers["exec.sql_s"] += exec_sql
        res.layers["queries.build_sql_s"] += sql_by_desc.get(f"pb:{op}:build", 0.0)
        res.layers["exec.driver_gap_s"] += wall - build_s - exec_sql
        for k, v in self.listener.take().items():
            res.layers[f"catalyst.{k}_s"] += v


def timed_op(probe: Probe, res: Result, op: str, layer: str, build, materialize):
    """Run ``build`` then ``materialize`` as one timed operation;
    returns (wall seconds, materialize's return value)."""
    tr = probe.tracer
    t0 = time.perf_counter()
    with tr.span("op", op=op):
        probe.phase(op, "build")
        calls0 = probe.py4j.calls if probe.on else 0
        tb = time.perf_counter()
        with tr.span(layer):
            df = build()
        build_s = time.perf_counter() - tb
        calls1 = probe.py4j.calls if probe.on else 0
        probe.phase(op, "exec")
        with tr.span("materialize"):
            out = materialize(df)
        probe.phase(None)
    t1 = time.perf_counter()
    if probe.on:
        res.layers[f"{layer}_s"] += build_s
        res.layers[f"{layer.split('.')[0]}.py4j_calls"] += calls1 - calls0
        res.layers[f"{layer.split('.')[0]}.build_jobs"] += probe.jobs_in(op, "build")
        probe.harvest(res, op, t1 - t0, build_s)
    return t1 - t0, out


# ---------------------------------------------------------------------------
# headline


def materialize_noop(df) -> int:
    """Compute every output column with a noop-format write; the attached
    observation yields the row count from the same pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def run_headline(ctx, seconds: float, scale: float = HEADLINE_SCALE,
                 content_checks: int = 1) -> Result:
    from python_plugins_spark.queries import BENCH_QUERIES, QUERIES

    spark, probe, res = ctx.spark, ctx.probe, Result()
    # Registry order, not a seeded permutation: the first query to use
    # an operator pays its one-time costs (class loading, codegen, the
    # first Python worker of its UDF type), so a permutation would move
    # seconds between queries from run to run.
    order = list(BENCH_QUERIES)
    data_dir = os.path.join(ctx.run_dir, "star")
    datagen.write_star_schema(data_dir, scale)
    expected = headline_expectations(data_dir, order)
    samples: dict[str, list[float]] = defaultdict(list)
    probe.reset()
    deadline = time.perf_counter() + seconds
    with ctx.rss():
        while res.passes == 0 or time.perf_counter() < deadline:
            for name in order:
                op = f"{name}#{res.passes}"
                try:
                    wall, n = timed_op(
                        probe, res, op, "queries.build",
                        lambda name=name: QUERIES[name](spark, data_dir), materialize_noop,
                    )
                except Exception as exc:
                    ctx.log(f"{name} failed: {exc!r}")
                    res.check(False, f"{name}: {type(exc).__name__}")
                    continue
                ctx.log(f"{op}: {wall:.3f}s ({n} rows)")
                samples[name].append(wall)
                res.check(n == expected[name]["rows"], f"{name}: rows {n} != {expected[name]['rows']}")
            res.passes += 1
    # The client's operation is the whole pass: per-query walls cluster
    # by query class, so a median over them jumps between classes.
    res.pass_s = [sum(stats.median(v) for v in samples.values())]
    res.latencies = list(res.pass_s)
    # content check, outside the timed pass, on a seeded pick
    checked = random.Random(ctx.seed).sample(order, min(content_checks, len(order)))
    for name in checked:
        try:
            got = frame_hash(QUERIES[name](spark, data_dir).toPandas())
        except Exception as exc:
            ctx.log(f"{name} content check failed: {exc!r}")
            got = None
        res.check(got == expected[name]["hash"], f"{name}: content hash")
    res.notes["content_checked"] = checked
    res.notes["per_query_s"] = {k: round(stats.median(v), 4) for k, v in samples.items()}
    return res


# ---------------------------------------------------------------------------
# evaluator

TIER_LOOKUP = {
    "retail": "consumer", "online": "consumer", "wholesale": "business",
    "partner": "business", "internal": "staff",
}

EVALUATOR_SCRIPT = '''
import logging, os

# undeclared metric counters are logged by the operator at task end;
# route that log line to a file the benchmark reads back
_log = logging.getLogger("python_transform")
if METRICS_DIR and not any(getattr(h, "baseFilename", "").startswith(METRICS_DIR) for h in _log.handlers):
    _log.addHandler(logging.FileHandler(os.path.join(METRICS_DIR, "metrics-%d.log" % os.getpid())))
    _log.setLevel(logging.INFO)


def transform(record, emitter, context):
    args = context.getArguments()
    metrics = context.getMetrics()
    metrics.count("records")
    code = int(record["code"])
    qty = record["qty"]
    if qty is None:
        metrics.count("skipped")
        return
    tier = args.get("tier_lookup").get(record["category"], "unknown")
    gross = round(qty * (record["price"] or 0.0) * 100)
    net = gross - round(gross * record["discount"])
    emitter.emit({"tier": tier, "bucket": code % 7, "net_cents": net,
                  "tax_cents": round(net * float(args.get("taxrate")))})
    if record["flag"]:
        metrics.count("flagged")
        emitter.emit({"tier": "flagged", "bucket": code % 7, "net_cents": net, "tax_cents": 0})
'''

EVALUATOR_SCHEMA = "tier string, bucket long, net_cents long, tax_cents long"
EVALUATOR_ARGS = {"taxrate": "0.07", "tier_lookup": TIER_LOOKUP}


def evaluator_spec(input_path: str, metrics_dir: str) -> dict:
    script = f"METRICS_DIR = {metrics_dir!r}\n" + EVALUATOR_SCRIPT
    return {
        "stages": [
            {"name": "src", "type": "batchsource.parquet", "config": {"path": input_path}},
            {"name": "eval", "type": "transform.python", "config": {
                "script": script, "schema": EVALUATOR_SCHEMA,
                "args": EVALUATOR_ARGS, "on_error": "route"}},
            {"name": "agg", "type": "batchaggregator.groupby", "config": {
                "groupByFields": ["tier", "bucket"],
                "aggregates": [
                    {"name": "n", "function": "count", "field": "*"},
                    {"name": "net", "function": "sum", "field": "net_cents"},
                    {"name": "tax", "function": "sum", "field": "tax_cents"},
                ]}},
        ],
        "connections": [{"from": "src", "to": "eval"}, {"from": "eval", "to": "agg"}],
    }


class _Emitter:
    def __init__(self):
        self.rows = []

    def emit(self, row):
        self.rows.append(row)


class _Metrics:
    def __init__(self):
        self.counts = defaultdict(int)

    def count(self, name, delta=1):
        self.counts[name] += delta


class _Context:
    def __init__(self, args, metrics):
        self._args, self._metrics = args, metrics

    def getArguments(self):  # noqa: N802 (script API)
        return self._args

    def getMetrics(self):  # noqa: N802
        return self._metrics


def _pylist(col) -> list:
    """A column as Python values, nulls as None; through numpy, because
    pyarrow's ``to_pylist`` takes seconds on a million rows. Timestamps
    stay integers: the script does not read them."""
    import pyarrow as pa

    col = col.combine_chunks()
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    if col.null_count == 0:
        return col.to_numpy(zero_copy_only=False).tolist()
    fill = False if pa.types.is_boolean(col.type) else "" if pa.types.is_string(col.type) else 0
    values = col.fill_null(fill).to_numpy(zero_copy_only=False).tolist()
    nulls = col.is_null().to_numpy(zero_copy_only=False).tolist()
    return [None if n else v for v, n in zip(values, nulls)]


def evaluator_reference(table) -> tuple[dict, set[int], dict[str, int]]:
    """Pure-Python run of the evaluator script: aggregate rows keyed by
    (tier, bucket), ids routed to the error port, metric counts."""
    ns: dict = {"METRICS_DIR": None}
    exec(compile(EVALUATOR_SCRIPT, "<evaluator>", "exec"), ns)
    fn = ns["transform"]
    metrics = _Metrics()
    ctx = _Context(dict(EVALUATOR_ARGS), metrics)
    agg: dict = defaultdict(lambda: [0, 0, 0])
    errors = set()
    names = table.column_names
    for values in zip(*(_pylist(table.column(n)) for n in names)):
        rec = dict(zip(names, values))
        em = _Emitter()
        try:
            fn(rec, em, ctx)
        except ValueError:
            errors.add(rec["id"])
            continue
        for r in em.rows:
            a = agg[(r["tier"], r["bucket"])]
            a[0] += 1
            a[1] += r["net_cents"]
            a[2] += r["tax_cents"]
    return {k: tuple(v) for k, v in agg.items()}, errors, dict(metrics.counts)


def read_metric_logs(metrics_dir: str) -> dict[str, int]:
    """Cumulative metric counts from the operator's log lines."""
    total: dict[str, int] = defaultdict(int)
    prefix = "python_transform local metrics: "
    for path in glob.glob(os.path.join(metrics_dir, "metrics-*.log")):
        with open(path) as fh:
            for line in fh:
                if line.startswith(prefix):
                    for k, v in ast.literal_eval(line[len(prefix):].strip()).items():
                        total[k] += v
    return dict(total)


def run_evaluator(ctx, seconds: float, rows: int = EVALUATOR_ROWS) -> Result:
    """The evaluator in batch (one timed pass), then on a stream for
    ``seconds``. The batch goes first because micro-batches in a JVM that
    has run only the set-up are slower and spread more."""
    res = Result()
    run_evaluator_batch(ctx, rows, res)
    run_stream(ctx, seconds, res)
    return res


def run_evaluator_batch(ctx, rows: int, res: Result) -> None:
    """Batch phase: an untimed warm-up on a slice, then one timed pass
    over the whole table; walls and output checks go into ``res``."""
    from python_plugins_spark.pipeline import run_pipeline

    spark, probe = ctx.spark, ctx.probe
    input_path = os.path.join(ctx.run_dir, "evaluator.parquet")
    warm_path = os.path.join(ctx.run_dir, "evaluator-warmup.parquet")
    metrics_dir = os.path.join(ctx.run_dir, "evaluator-metrics")
    os.makedirs(metrics_dir)
    table = datagen.write_evaluator_table(input_path, rows, ctx.seed)
    warm_rows = min(rows, EVALUATOR_WARMUP_ROWS)
    datagen.write_table(table.slice(0, warm_rows), warm_path)
    spec = evaluator_spec(input_path, metrics_dir)
    seen_counts: dict[str, int] = {}

    def counts_delta() -> dict[str, int]:
        nonlocal seen_counts
        now = read_metric_logs(metrics_dir)
        delta = {k: v - seen_counts.get(k, 0) for k, v in now.items()}
        seen_counts = now
        return {k: v for k, v in delta.items() if v}

    # The once-per-run error-port check is the warm-up (untimed); it
    # collects the aggregate too, so the timed pass meets no first use.
    # The pure-Python reference runs in a thread meanwhile: the main
    # thread only waits on the gateway socket, which releases the GIL.
    with ThreadPoolExecutor(1, thread_name_prefix="evaluator-reference") as pool:
        reference = pool.submit(evaluator_reference, table)
        frames = run_pipeline(spark, evaluator_spec(warm_path, metrics_dir))
        errs = frames["eval.error"].select("errorCode", "invalidRecord.id").collect()
        frames["agg"].collect()
        want_agg, want_errors, want_counts = reference.result()
    # ids are row numbers, so the slice's errors are the ids below warm_rows
    want_errors = {i for i in want_errors if i < warm_rows}
    res.check(
        {r[1] for r in errs} == want_errors and len(errs) == len(want_errors)
        and all(r[0] == 1 for r in errs),
        f"error port: {len(errs)} rows, want {len(want_errors)}",
    )
    res.layers["transform.error_rows"] = len(errs)

    def materialize(frames):
        return {(r["tier"], r["bucket"]): (r["n"], r["net"], r["tax"]) for r in frames["agg"].collect()}

    counts_delta()
    ctx.log(f"evaluator: {rows} rows; error-port check and reference run done")

    probe.reset()
    with ctx.rss():
        wall, out = timed_op(
            probe, res, "evaluator", "pipeline.compile", lambda: run_pipeline(spark, spec), materialize,
        )
    res.passes = 1
    res.pass_s.append(wall)
    ctx.log(f"evaluator: {wall:.3f}s")
    res.check(out == want_agg, "evaluator: aggregate output")
    got_counts = counts_delta()
    res.check(got_counts == want_counts, f"evaluator: metrics {got_counts} != {want_counts}")
    res.notes["records_per_s"] = rows / wall
    res.notes["rows"] = rows


# ---------------------------------------------------------------------------
# evaluator, stream half

STREAM_SCRIPT = '''
def transform(record, emitter, context):
    weight = float(context.getArguments().get("weight"))
    emitter.emit({"event_id": record["event_id"], "created_s": record["created_s"],
                  "score": round(record["amount"] * weight, 2), "kind": record["kind"].upper()})
'''

SINK_SCRIPT = '''
import json, os, time


def process(df, epoch_id):
    start = time.time()
    rows = df.select("event_id", "created_s").collect()
    done = time.time()
    path = os.path.join(OUT_DIR, "batch-%d-%d.json" % (epoch_id, time.time_ns()))
    with open(path + ".tmp", "w") as fh:
        json.dump({"epoch": epoch_id, "start": start, "done": done,
                   "ids": [r[0] for r in rows], "created": [r[1] for r in rows]}, fh)
    os.rename(path + ".tmp", path)
'''


def stream_spec(in_dir: str, out_dir: str, ckpt: str) -> dict:
    return {
        "stages": [
            {"name": "src", "type": "streamingsource.file", "config": {
                "path": in_dir, "format": "parquet", "schema": datagen.STREAM_SCHEMA}},
            {"name": "eval", "type": "transform.python", "config": {
                "script": STREAM_SCRIPT, "args": {"weight": "1.5"},
                "schema": "event_id long, created_s double, score double, kind string"}},
            {"name": "sink", "type": "streamingsink.foreachbatch", "config": {
                "script": f"OUT_DIR = {out_dir!r}\n" + SINK_SCRIPT,
                "checkpointLocation": ckpt, "drain": False}},
        ],
        "connections": [{"from": "src", "to": "eval"}, {"from": "eval", "to": "sink"}],
    }


class StreamGenerator(threading.Thread):
    """Writes one parquet file every ``interval_s`` seconds until
    stopped; each event is stamped with the time its file was due."""

    def __init__(self, in_dir: str, seed: int, interval_s: float, events_per_file: int):
        super().__init__(name="stream-generator", daemon=True)
        self.in_dir, self.seed = in_dir, seed
        self.interval = interval_s
        self.per_file = events_per_file
        self.files = 0
        self.late_max_s = 0.0
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        import pyarrow.parquet as pq

        try:
            t0_wall, t0 = time.time(), time.monotonic()
            while not self._stop_evt.is_set():
                due = t0 + self.files * self.interval
                delay = due - time.monotonic()
                if delay > 0 and self._stop_evt.wait(delay):
                    break
                self.late_max_s = max(self.late_max_s, time.monotonic() - due)
                k = self.files
                table = datagen.stream_events(
                    self.seed, k, k * self.per_file, self.per_file, t0_wall + k * self.interval,
                )
                tmp = os.path.join(self.in_dir, f".part-{k:06d}.parquet")
                pq.write_table(table, tmp)
                os.rename(tmp, os.path.join(self.in_dir, f"part-{k:06d}.parquet"))
                self.files += 1
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc

    def stop(self) -> None:
        self._stop_evt.set()
        if self.is_alive():
            self.join(timeout=30)


def wait_for_events(out_dir: str, n: int, timeout_s: float) -> list[dict]:
    """Sink records once they hold ``n`` events, or at the timeout."""
    deadline = time.monotonic() + timeout_s
    batches = read_sink(out_dir)
    while sum(len(b["ids"]) for b in batches) < n and time.monotonic() < deadline:
        time.sleep(0.05)
        batches = read_sink(out_dir)
    return batches


def read_sink(out_dir: str) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(out_dir, "batch-*.json")):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians from ``StreamingQuery.recentProgress``."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"streaming.batches": float(len(batches))}
    if not batches:
        return out
    keys = {
        "streaming.trigger_p50_s": "triggerExecution",
        "streaming.add_batch_p50_s": "addBatch",
        "streaming.latest_offset_p50_s": "latestOffset",
        "streaming.commit_p50_s": "commitOffsets",
    }
    for name, key in keys.items():
        out[name] = stats.median(p["durationMs"].get(key, 0) for p in batches) / 1000.0
    out["streaming.rows_per_batch_p50"] = float(stats.median(p["numInputRows"] for p in batches))
    return out


def run_stream(ctx, seconds: float, res: Result) -> None:
    """Stream phase: per-event latencies and exactly-once checks go into ``res``."""
    from python_plugins_spark.pipeline import run_pipeline

    spark, probe = ctx.spark, ctx.probe
    in_dir = os.path.join(ctx.run_dir, "stream-in")
    out_dir = os.path.join(ctx.run_dir, "stream-out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    gen = StreamGenerator(in_dir, ctx.seed, STREAM_FILE_INTERVAL_S, STREAM_EVENTS_PER_FILE)
    tr = probe.tracer
    probe.reset()
    calls0 = probe.py4j.calls if probe.on else 0
    t0 = time.perf_counter()
    with tr.span("stream.compile", op="stream"):
        query = run_pipeline(spark, stream_spec(in_dir, out_dir, os.path.join(ctx.run_dir, "ckpt")))["sink.query"]
    if probe.on:
        res.layers["streaming.compile_s"] = time.perf_counter() - t0
        res.layers["streaming.py4j_calls"] = probe.py4j.calls - calls0
    try:
        # warm-up files outside the generator's id range, one micro-batch
        # each; the schedule starts once the stream has emitted them
        import pyarrow.parquet as pq

        warm_ids: set[int] = set()
        for w in range(STREAM_WARMUP_BATCHES):
            first = WARMUP_FIRST_ID + w * STREAM_EVENTS_PER_FILE
            warm = datagen.stream_events(ctx.seed, (1 << 30) + w, first, STREAM_EVENTS_PER_FILE, time.time())
            pq.write_table(warm, os.path.join(in_dir, f"warmup-{w}.parquet"))
            warm_ids.update(range(first, first + STREAM_EVENTS_PER_FILE))
            wait_for_events(out_dir, len(warm_ids), STREAM_GRACE_S)
        ctx.log("stream: warm-up batches emitted")
        gen.start()
        with ctx.rss():
            time.sleep(seconds)
            gen.stop()
        if gen.error is not None:
            raise gen.error
        n_events = gen.files * STREAM_EVENTS_PER_FILE
        batches = wait_for_events(out_dir, n_events + len(warm_ids), STREAM_GRACE_S)
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        gen.stop()
        query.stop()
    missing, duplicated = stats.exactly_once([*range(n_events), *warm_ids], batches)
    res.attempted += n_events + len(warm_ids)
    res.failed += missing + duplicated
    if missing or duplicated:
        res.notes.setdefault("failures", []).append(f"{missing} events missing, {duplicated} duplicated")
    measured = [
        {"done": b["done"], "created": [c for i, c in zip(b["ids"], b["created"]) if i not in warm_ids]}
        for b in batches
    ]
    res.latencies = stats.event_latencies(measured)
    # the slowest of ~6 files: reported per layer, too unsteady to bound
    res.layers["streaming.latency_p95_s"] = stats.percentile(res.latencies, 95)
    triggers = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in progress if p.get("numInputRows", 0) > 0 and p["batchId"] >= STREAM_WARMUP_BATCHES
    ]
    res.notes["micro_batch_s"] = [round(t, 3) for t in triggers]
    res.notes["rows_per_batch"] = [p["numInputRows"] for p in progress if p["batchId"] >= STREAM_WARMUP_BATCHES]
    res.notes["events"] = n_events
    res.notes["gen_late_max_s"] = gen.late_max_s
    res.layers["gen.late_max_s"] = gen.late_max_s
    if probe.on:
        res.layers.update(progress_layers(progress))
        stream_spans(tr, progress, batches)
        counters, sql_by_desc = probe.sql.harvest()
        for k, v in counters.items():
            res.layers[f"streaming.{k}"] += v
        res.layers["streaming.exec.sql_s"] += sum(sql_by_desc.values())
        probe.listener.take()


def stream_spans(tr, progress: list[dict], batches: list[dict]) -> None:
    """Micro-batch spans from the query progress, with the sink calls as
    their children; wall-clock stamps are moved onto the span clock."""
    from datetime import datetime

    shift = time.perf_counter() - time.time()
    parents = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() + shift
            end = start + p["durationMs"]["triggerExecution"] / 1000.0
            parents[p["batchId"]] = tr.add_span("stream.batch", start, end, op=f"batch{p['batchId']}")
    for b in batches:
        tr.add_span(
            "stream.sink", b["start"] + shift, b["done"] + shift,
            op=f"batch{b['epoch']}", parent=parents.get(b["epoch"]),
        )


WORKLOADS = {"headline": run_headline, "evaluator": run_evaluator}
