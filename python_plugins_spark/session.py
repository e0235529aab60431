"""SparkSession factory tuned for both local testing and cluster scale.

The reference plugin inherits its runtime from the host CDAP platform
(``pom.xml:134-137``); our engine owns session construction instead and
bakes in the scale-oriented defaults (AQE, Arrow, sane shuffle
parallelism, UTC timestamps for oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: the unit of work crossing the JVM<->Python boundary in
# mapInArrow/mapInPandas/pandas_udf. 10k rows amortizes per-batch overhead while
# keeping per-batch memory bounded (~10-50 MB for wide rows).
_ARROW_BATCH_ROWS = 10_000


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def ensure_worker_hook() -> None:
    """Prepend the worker start-up hook's dir (``vendor/pythonpath``,
    whose ``sitecustomize.py`` every Python worker runs at interpreter
    start) to ``PYTHONPATH``. Workers inherit the env of the JVM, so this
    reaches only workers of a JVM launched after the call. Idempotent."""
    hook_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vendor", "pythonpath")
    pp = os.environ.get("PYTHONPATH", "")
    if hook_dir not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{hook_dir}:{pp}" if pp else hook_dir


def get_spark(
    app_name: str = "python_plugins_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    python_binary: str | None = None,
    python_path: list[str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults are chosen for correctness-at-scale first:

    - AQE on (runtime join-strategy switches, skew-join splitting,
      partition coalescing) so small-SF test plans and 100 TB plans both
      come out right without hand-tuning.
    - Arrow on for every JVM<->Python crossing.
    - ``spark.sql.session.timeZone=UTC`` so timestamp semantics match a
      UTC-naive oracle (DuckDB) and are cluster-location-independent.
    - shuffle partitions default to local core count in local mode; on a
      real cluster pass ``shuffle_partitions`` sized to ~2-3x total
      executor cores (AQE coalesces the excess).
    """
    cpus = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Vendored protobuf for transformWithStateInPandas (see
    # vendor/protobuf_shim.py): shim the driver now; workers run the
    # same shim from the start-up hook. Must happen before the JVM forks.
    from python_plugins_spark.vendor import protobuf_shim

    protobuf_shim.ensure_protobuf()
    ensure_worker_hook()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns (e.g. the events table) are
        # not directly readable; surface them as long and convert in
        # load_table (truncation to micros matches DuckDB's behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet naive timestamps as TIMESTAMP (not NTZ): with the
        # session pinned to UTC the values are identical, and the full
        # tz-sensitive function catalog (unix_micros, window(), ...)
        # stays usable. See sources/io.py:ensure_session_confs.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Scan-split size. Default 128m means a local single-file table
        # under 128 MB scans on ONE core; 4m keeps every core busy at
        # test SFs while still being a reasonable floor on a cluster
        # (AQE coalesces over-split outputs; at 100 TB per-file row
        # groups dominate and this knob matters far less). Override via
        # SPARK_GRAFT_MAX_PARTITION_BYTES for cluster deployments.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # Let custom Python DataSources consume pushed filters
        # (sources/pydatasource.py implements pushFilters).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(_ARROW_BATCH_ROWS))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Interpreter / library-path selection — parity with the
    # reference's `pythonBinary` / `pythonPath` config
    # (reference PythonEvaluator.java:111-121, applied at
    # Py4jPythonExecutor.java:147-149): Spark's worker processes run
    # under the chosen interpreter with the extra dirs importable.
    if python_binary:
        builder = builder.config("spark.pyspark.python", python_binary)
        # The conf alone only takes effect through spark-submit's
        # launcher; an in-process SparkContext picks the worker
        # interpreter from PYSPARK_PYTHON at context start
        # (pyspark.context: pythonExec = env PYSPARK_PYTHON or
        # sys.executable). Set both so either path agrees.
        os.environ["PYSPARK_PYTHON"] = python_binary
    if python_path:
        # ADDITIVE, like the reference's pythonPath ("additional library
        # folders"): executorEnv.PYTHONPATH replaces the inherited env,
        # so re-include it (vendor shim, caller dirs) plus the package
        # root — otherwise workers lose this very package.
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        parts = list(python_path)
        parts += [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
        if pkg_root not in parts:
            parts.append(pkg_root)
        builder = builder.config("spark.executorEnv.PYTHONPATH", ":".join(parts))
    for key, value in (extra_conf or {}).items():
        if key == "spark.sql.session.timeZone" and value != "UTC":
            # Value-identity of naive-parquet timestamp reads (and every
            # oracle comparison) depends on the session staying UTC —
            # a silent override would shift every timestamp value.
            raise ValueError(
                "spark.sql.session.timeZone must remain UTC: naive parquet "
                "timestamps are read as TIMESTAMP on the premise that the "
                "session timezone is UTC (see sources/io.py:ensure_session_confs)"
            )
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


#: Session conf selecting how shared intermediate stages materialize
#: (see :func:`stage_checkpoint`).
STAGE_MATERIALIZE_CONF = "spark.python_plugins.stageMaterialize"


def stage_checkpoint(df):
    """Materialize an intermediate frame that several downstream
    subtrees consume — the library's one choke point for the
    compute-once pattern (``df.transform(stage_checkpoint)``), so the
    materialization STRATEGY is a runtime choice instead of being
    hard-coded at ~60 call sites.

    Modes (session conf ``spark.python_plugins.stageMaterialize``):

    - ``localCheckpoint`` (default): truncates lineage and stores
      blocks on the executors; blocks release on driver GC of the
      frame, not at session end — the right trade for single-box
      runs (bench, the 400-query sweep, tests), where executor loss
      is impossible. DOCUMENTED FAILURE MODE on a real cluster: if an
      executor holding checkpoint blocks dies (spot nodes, dynamic
      allocation), the job fails unrecoverably because the truncated
      lineage cannot recompute them — Spark's own docs carry the same
      warning.
    - ``persist``: StorageLevel MEMORY_AND_DISK with lineage KEPT —
      executor loss recomputes the lost partitions; blocks are still
      GC-released (ContextCleaner unpersists cached data whose driver
      reference is collected). The cluster-safe setting for 100 TB
      runs on preemptible hardware; costs lineage-tree growth in
      iterative callers.
    - ``checkpoint``: reliable checkpoint to
      ``sparkContext.setCheckpointDir`` storage — lineage truncation
      AND executor-loss safety, at the price of a write to reliable
      storage per stage. The cluster setting for deep iterative
      plans (connected components at scale).

    Every mode materializes EAGERLY: callers rely on the upstream
    subtree running exactly once even when they fan out into several
    actions, so laziness here would silently re-run it per consumer.
    """
    mode = df.sparkSession.conf.get(STAGE_MATERIALIZE_CONF, "localCheckpoint")
    if mode == "persist":
        df = df.persist()
        df.count()
        return df
    if mode == "checkpoint":
        return df.checkpoint(eager=True)
    if mode != "localCheckpoint":
        raise ValueError(
            f"{STAGE_MATERIALIZE_CONF} must be localCheckpoint|persist|"
            f"checkpoint, got {mode!r}"
        )
    return df.localCheckpoint(eager=True)


def stage_checkpoint_iterative(df):
    """In-LOOP variant of :func:`stage_checkpoint` for iterative
    algorithms (connected components, PageRank, k-core, label
    propagation): there, lineage TRUNCATION is load-bearing — each
    round's frame must be one iteration deep, or by round N the plan
    nests N rounds and Catalyst analysis time / driver memory grow
    without bound. The ``persist`` mode is therefore NOT honored
    as-is at these sites: under ``persist``, iterative stages use the
    reliable checkpoint when a checkpoint dir is configured (both
    properties: truncation + executor-loss safety) and fall back to
    localCheckpoint otherwise — accepting the documented
    executor-loss caveat, because unbounded plan growth is the worse
    failure on every run, not just on executor loss."""
    mode = df.sparkSession.conf.get(STAGE_MATERIALIZE_CONF, "localCheckpoint")
    if mode == "checkpoint":
        return df.checkpoint(eager=True)
    if mode == "persist":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    if mode != "localCheckpoint":
        # same allowed set and same rejection as stage_checkpoint: a
        # typo'd conf must fail loudly at EVERY call site, not be
        # silently treated as the default at iterative ones
        raise ValueError(
            f"{STAGE_MATERIALIZE_CONF} must be localCheckpoint|persist|"
            f"checkpoint, got {mode!r}"
        )
    return df.localCheckpoint(eager=True)
