"""Sources & sinks.

The reference ships no real connectors (its tests wire ``MockSource`` /
``MockSink``; see reference ``BasePythonTransformTest.java:215-222``) —
in CDAP the platform supplies IO. Our engine exposes Spark's native
readers/writers directly so filters and projections prune at the scan
(parquet pushdown, partition pruning), which is the behavior that
matters at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The driver-generated star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # Schema inference requires an extra pass over the data; fine for
        # exploration, wrong for production scans.
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


# Logical nodes whose physical operator maps each input partition to
# one output partition (Union concatenates its children's).
_NARROW_NODES = frozenset({
    "Project", "Filter", "Union", "Generate", "Sample", "Expand",
    "MapInPandas", "MapInArrow", "BatchEvalPython", "ArrowEvalPython",
})
_SCAN_LEAVES = frozenset({"LogicalRelation", "DataSourceV2ScanRelation", "Range"})


def _narrow_width(node, splits, scan_top=None) -> int | None:
    """Sum of the scans' split counts under an all-narrow ``node``, else
    None. A scan is planned with the subquery-free Project/Filter chain
    directly on it (``scan_top``): path-based partition pruning happens
    only at physical planning."""
    name = node.getClass().getSimpleName()
    if name in _SCAN_LEAVES:
        return splits(scan_top or node)
    if name not in _NARROW_NODES:
        return None
    chain = name in ("Project", "Filter") and node.subqueries().isEmpty()
    scan_top = (scan_top or node) if chain else None
    width = 0
    it = node.children().iterator()
    while it.hasNext():
        child = _narrow_width(it.next(), splits, scan_top)
        if child is None:
            return None
        width += child
    return width


def scan_width(df: DataFrame) -> int | None:
    """Partition count of a batch frame that is only narrow nodes over
    source scans, read from its optimized plan; None for every other
    frame (shuffle output, checkpointed, cached or local data, a
    stream). Only the scans are planned, so no job starts."""
    if df.isStreaming:
        return None
    dataset = df._sc._jvm.org.apache.spark.sql.classic.Dataset  # type: ignore[attr-defined]
    session = df.sparkSession._jsparkSession

    def splits(scan) -> int:
        return dataset.ofRows(session, scan).queryExecution().toRdd().getNumPartitions()

    return _narrow_width(df._jdf.queryExecution().optimizedPlan(), splits)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin an UNDER-SPLIT scan to ``defaultParallelism`` before
    a CPU-bound narrow stage (per-record Python, tokenize/shingle/hash),
    so the stage uses every core instead of one per input split.

    The library's one parallelism rule, read from the plan: a frame
    whose :func:`scan_width` is below the core count is spread. Every
    other frame keeps its width: a scan that already feeds the cluster
    (every real corpus scan), shuffle output, a checkpoint or cache
    (never re-spread), a stream (its source owns the partitioning)."""
    width = scan_width(df)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if width is None or width >= parallelism:
        return df
    return df.repartition(parallelism)


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-built SparkSession safe for this engine's
    queries (the driver hands us ITS session, not ours):

    - nanos parquet timestamps readable (events table);
    - session timezone pinned UTC so timestamp formatting matches a
      UTC-naive oracle regardless of host timezone;
    - naive parquet timestamps read as TIMESTAMP, not NTZ (next
      bullet-comment below).

    All are runtime-settable SQL confs; idempotent. The UTC pin is a
    correctness premise, not a preference — ``get_spark`` rejects
    ``extra_conf`` overrides of it (session.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet TIMESTAMP(isAdjustedToUTC=false) columns would otherwise
    # surface as TIMESTAMP_NTZ, which tz-sensitive functions
    # (unix_micros, window(), ...) reject. With the session pinned to
    # UTC, reading them as regular TIMESTAMP is value-identical to the
    # naive oracle's view and keeps the whole function catalog usable.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Python DataSource filter pushdown (pushFilters) is opt-in; our
    # custom source implements it, and Spark ERRORS (rather than
    # ignoring the method) when the conf is off.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


# Inferred schema per parquet path. Passing an explicit schema on
# subsequent reads skips the footer-inference job entirely — plan
# construction becomes action-free (and at scale, explicit schemas are
# what production readers do anyway). Safe to cache: the driver tables
# are read-only and the schema-affecting confs are pinned by
# ensure_session_confs before the first inference.
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one driver table: ``{sf_dir}/{name}.parquet``.

    Nanosecond parquet timestamps (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``) are converted to
    microsecond timestamps — same truncation DuckDB applies."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    return fix_nanos_ts(df, "ts")


def fix_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Convert a nanos-as-long timestamp column to a real timestamp
    (micros, truncating — the same thing DuckDB does when reading
    TIMESTAMP_NS parquet)."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(col) == "bigint":
        df = df.withColumn(
            col, F.timestamp_micros(F.floor(F.col(col) / 1000).cast("long"))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every driver table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Parquet sink. ``partition_by`` for partition pruning on later
    scans; ``bucket_by=(n, cols)`` writes a bucketed table so later
    equi-joins/aggs on those cols avoid a shuffle (requires saveAsTable).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        table = os.path.basename(path.rstrip("/")).replace(".", "_")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).format(
            "parquet"
        ).saveAsTable(table)
        return
    writer.parquet(path)
