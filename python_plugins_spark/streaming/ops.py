"""Structured Streaming surface.

The reference plugin is deployable unchanged into batch and streaming
pipelines (reference ``pom.xml:134-137`` declares both
``cdap-data-pipeline`` and ``cdap-data-streams`` parents) but contains
zero streaming-specific code — the host platform ran it per-record
either way. Our equivalent: :func:`python_transform` works on a
streaming DataFrame as-is (its record path, ``mapInArrow``, is
streaming-compatible); this module adds what CDAP's platform provided
around it — watermarks, tumbling/sliding/session windows, stateful
aggregation, and the multi-port split for streams (via
``foreachBatch``, since a streaming plan can't be filtered three ways
without recomputation).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from python_plugins_spark.operators.transform import TransformResult, python_transform


def read_stream_parquet(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """File-source stream over a parquet directory (schema required —
    streaming sources never infer). A single-file path is handled via
    pathGlobFilter on its parent directory (the file source only
    accepts directories). One file = one micro-batch unit; for smoke
    tests ``run_to_memory_sink`` drains it synchronously."""
    import os

    reader = spark.readStream.schema(schema)
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: list[str],
    aggs: dict[str, Any],
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) event-time window
    aggregation with a watermark bounding state size — without the
    watermark, state grows forever at 100 TB stream scale."""
    exprs = [col.alias(name) for name, col in aggs.items()]
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *group_cols)
        .agg(*exprs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            *[F.col(name) for name in aggs],
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: dict[str, Any],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per group key (native ``session_window`` keeps state
    bounded by the watermark)."""
    exprs = [col.alias(name) for name, col in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), *group_cols)
        .agg(*exprs)
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *group_cols,
            *[F.col(name) for name in aggs],
        )
    )


def streaming_python_transform(
    df: DataFrame,
    script: str | None = None,
    func: Callable | None = None,
    output_schema=None,
    **kwargs,
) -> TransformResult:
    """The reference's batch/streaming duality: the identical transform
    operator applied to a streaming DataFrame. Multi-port results on a
    stream must be consumed via :func:`split_ports_foreach_batch`."""
    return python_transform(df, script=script, func=func, output_schema=output_schema, **kwargs)


def split_ports_foreach_batch(
    result: TransformResult,
    on_output: Callable[[DataFrame, int], None],
    on_error: Callable[[DataFrame, int], None] | None = None,
    on_alert: Callable[[DataFrame, int], None] | None = None,
):
    """Consume a multi-port streaming transform exactly once per
    micro-batch: persist the tagged batch, route each port to its sink,
    unpersist. Returns the DataStreamWriter (caller .start()s it)."""
    tagged = result._tagged
    if tagged is None:
        raise ValueError("transform has no error/alert ports; write result.output directly")
    # main-port fields are flat columns of the tagged frame
    out_names = result.output.columns

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            on_output(
                batch_df.filter(F.col("_port") == "out").select(*out_names), epoch_id
            )
            if on_error is not None:
                on_error(batch_df.filter(F.col("_port") == "error").select("_error.*"), epoch_id)
            if on_alert is not None:
                on_alert(
                    batch_df.filter(F.col("_port") == "alert").select(
                        F.col("_alert").alias("alert")
                    ),
                    epoch_id,
                )
        finally:
            batch_df.unpersist()

    return tagged.writeStream.foreachBatch(handle)


def stateful_running_agg(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    output_schema: str = None,
) -> DataFrame:
    """Custom stateful operator template: running count+sum per key via
    ``applyInPandasWithState`` — the shape any bespoke streaming state
    machine takes in this engine."""
    out_schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType) for c in key_cols]
        + [
            T.StructField("running_count", T.LongType()),
            T.StructField("running_sum", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cnt", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cnt, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {
                **{c: [k] for c, k in zip(key_cols, key)},
                "running_count": [cnt],
                "running_sum": [total],
            }
        )

    return df.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def run_to_memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input synchronously into an in-memory table
    and return it as a DataFrame — turns a streaming query into a
    testable batch result.

    ``state_partitions`` temporarily overrides
    ``spark.sql.shuffle.partitions`` for the duration of the query
    start (a streaming query pins the value it sees at first start
    into its checkpoint). Stateful micro-batches pay a fixed
    per-partition state-store cost every batch; for a bounded drain
    whose state is small, 32 stores are ~all overhead — callers with
    small keyspaces pass 4-8. Cluster deployments with real state
    volume should leave it unset (the session default sizes state to
    the cluster)."""
    spark = df.sparkSession
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return df.sparkSession.table(name)


def stateful_max_tracker(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running max via ``transformWithStateInPandas`` (Spark
    4's successor to applyInPandasWithState): typed per-key ValueState,
    explicit processor lifecycle (init/handleInputRows/close), RocksDB
    state store. The shape any bespoke streaming accumulator takes on
    the modern API.

    The API's state-server protocol needs ``google.protobuf``, which
    this container lacks — vendored via
    :mod:`python_plugins_spark.vendor.protobuf_shim` (Cloud SDK's
    bundled pure-Python protobuf 6.32 + a relaxed minor-version gate).
    Exercised end-to-end by ``tests/test_streaming.py`` and the
    ``streaming_stateful_max`` registry query."""
    from python_plugins_spark.vendor.protobuf_shim import ensure_protobuf

    if not ensure_protobuf():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf and no "
            "vendorable copy was found (see vendor/protobuf_shim.py)"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxTracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._max = handle.getValueState("vmax", "m double")

        def handleInputRows(self, key, rows, timer_values):
            cur = self._max.get()[0] if self._max.exists() else None
            for pdf in rows:
                if len(pdf):
                    m = float(pdf[value_col].max())
                    cur = m if cur is None or m > cur else cur
            if cur is not None:
                self._max.update((cur,))
                yield pd.DataFrame({key_col: [key[0]], "max_value": [cur]})

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=MaxTracker(),
        outputStructType=f"{key_col} string, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def stateful_topn_tracker(
    df: DataFrame, key_col: str, value_col: str, n: int = 3
) -> DataFrame:
    """Per-key running top-n via ``transformWithStateInPandas`` with
    typed ListState — the state-variable surface beyond a scalar
    ValueState (list put/get, bounded to n elements per key so state
    never grows with the stream). Emits the key's current top-n with
    dense 1-based ranks after every batch."""
    from python_plugins_spark.vendor.protobuf_shim import ensure_protobuf

    if not ensure_protobuf():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf and no "
            "vendorable copy was found (see vendor/protobuf_shim.py)"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopN(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("topn", "v double")

        def handleInputRows(self, key, rows, timer_values):
            cur = [r[0] for r in self._top.get()]
            for pdf in rows:
                if len(pdf):
                    cur.extend(float(x) for x in pdf[value_col])
                    cur = sorted(cur, reverse=True)[:n]
            if cur:
                self._top.put([(v,) for v in cur])
                yield pd.DataFrame(
                    {
                        key_col: [key[0]] * len(cur),
                        "rk": range(1, len(cur) + 1),
                        "value": cur,
                    }
                )

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=TopN(),
        outputStructType=f"{key_col} string, rk int, value double",
        outputMode="Update",
        timeMode="None",
    )


def _id_ranged_wave_stream(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    scratch_dir: str,
    n_waves: int,
    run: str,
) -> DataFrame:
    """Split ``df`` into ``n_waves`` arrival-ordered micro-batch files
    (ascending ``id_col`` ranges, file mtimes forcing source order) and
    return the file-source readStream over them — the shared fixture
    machinery of the online-dedup family."""
    import os
    import shutil
    import time

    waves_dir = os.path.join(scratch_dir, f"waves_{run}")
    shutil.rmtree(waves_dir, ignore_errors=True)
    os.makedirs(waves_dir)
    lo_id, hi_id = df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    span = (hi_id - lo_id + 1 + n_waves - 1) // n_waves or 1
    now = time.time()
    for i in range(n_waves):
        lo = lo_id + i * span
        hi = lo + span
        tmp = os.path.join(scratch_dir, f"wave_tmp_{run}_{i}")
        shutil.rmtree(tmp, ignore_errors=True)
        df.filter((F.col(id_col) >= lo) & (F.col(id_col) < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(waves_dir, f"wave{i}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(waves_dir)
    )


def online_exact_dedup(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: list[str],
    scratch_dir: str,
    n_waves: int = 3,
) -> DataFrame:
    """Online (streaming) exact dedup: split ``df`` into ``n_waves``
    arrival-ordered micro-batches (ascending ``id_col`` ranges, file
    mtimes forcing source order), then run a foreachBatch pipeline
    where every batch is deduped within itself (min id per content
    fingerprint) AND against the fingerprints of all previously
    accepted rows, with survivors appended atomically to a Delta table
    that doubles as the dedup state. Returns the survivor DataFrame
    (``keep_cols``).

    Because waves are id-ranged, first-arrival == min-id, so the
    online result equals the batch ``dedup_exact`` oracle. At scale
    the cross-batch check is an anti-join on the two-column
    fingerprint projection of the state table — no separate state
    store, and the state grows exactly as fast as the accepted corpus.
    """
    import os
    import shutil
    import uuid

    from python_plugins_spark.sources.delta_py import read_delta, write_delta
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    n_rows = df.count()
    run = uuid.uuid4().hex[:8]
    table = os.path.join(scratch_dir, f"state_{run}")
    shutil.rmtree(table, ignore_errors=True)
    stream = _id_ranged_wave_stream(spark, df, id_col, scratch_dir, n_waves, run)

    from pyspark.sql import Window

    def dedup_batch(bdf, epoch_id):
        keyed = bdf.withColumn("_k", F.md5(F.col(text_col)))
        w = Window.partitionBy("_k").orderBy(F.col(id_col).asc())
        in_batch = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(os.path.join(table, "_delta_log")):
            seen = read_delta(bdf.sparkSession, table).select("_k")
            fresh = in_batch.join(seen, on="_k", how="left_anti")
        else:
            fresh = in_batch
        write_delta(fresh.select(*keep_cols, "_k"), table, mode="append")

    q = (
        stream.writeStream.foreachBatch(dedup_batch)
        .option(
            "checkpointLocation", os.path.join(scratch_dir, f"ckpt_{run}")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_delta(spark, table).select(*keep_cols)


def online_radius_phash_dedup(
    spark: SparkSession,
    hashed: DataFrame,
    id_col: str,
    scratch_dir: str,
    bands: int = 4,
    bits: int = 56,
    max_hamming: int = 3,
    n_waves: int = 3,
) -> DataFrame:
    """Online perceptual dedup at Hamming RADIUS — the streaming
    composition of :func:`~python_plugins_spark.operators.phash.
    phash_index_radius_ingest`: (id, phash) rows arrive in
    ``n_waves`` micro-batches; each batch is radius-0 deduped within
    itself (min id per fingerprint), then checked against the
    persisted Delta fingerprint index by the pigeonhole band join
    (batch band keys BROADCAST — map-side over the index scan, no
    index shuffle), and survivors append atomically. A re-noised copy
    arriving in a LATER wave is rejected even though its fingerprint
    differs by a few bits from the indexed original — the case the
    radius-0 online dedup admits. Returns the admitted (id, phash)
    rows. Same contract as the batch operator: radius>0 near-pairs
    WITHIN one wave both admit (the intra-batch pass is radius-0);
    the index stays self-limiting across waves."""
    import os
    import shutil
    import uuid

    from pyspark.sql import Window

    from python_plugins_spark.operators.phash import (
        phash_index_build, phash_index_radius_ingest,
    )
    from python_plugins_spark.sources.delta_py import read_delta
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    run = uuid.uuid4().hex[:8]
    idx_root = os.path.join(scratch_dir, f"phash_state_{run}")
    shutil.rmtree(idx_root, ignore_errors=True)
    # bootstrap an EMPTY index so every wave — the first included —
    # goes through the same radius ingest (no special first-batch
    # build that would skip the radius check within the bootstrap)
    phash_index_build(
        hashed.select(id_col, "phash").limit(0), id_col, idx_root
    )
    stream = _id_ranged_wave_stream(
        spark, hashed.select(id_col, "phash"), id_col, scratch_dir,
        n_waves, run,
    )

    def dedup_batch(bdf, epoch_id):
        phash_index_radius_ingest(
            bdf, id_col, idx_root,
            bands=bands, bits=bits, max_hamming=max_hamming, append=True,
            dedup_batch=True,
        )

    q = (
        stream.writeStream.foreachBatch(dedup_batch)
        .option(
            "checkpointLocation", os.path.join(scratch_dir, f"ckpt_{run}")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_delta(spark, f"{idx_root}/phash").select(id_col, "phash")


def online_embedding_radius_dedup(
    spark: SparkSession,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    scratch_dir: str,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.9,
    seed: int = 42,
    n_waves: int = 3,
) -> DataFrame:
    """Online SEMANTIC dedup at cosine radius — the embedding twin
    that completes the online-dedup family (exact text, MinHash,
    perceptual Hamming radius): (id, vector) rows arrive in
    ``n_waves`` micro-batches; each batch is bucketed with the SAME
    seeded hyperplanes as the persisted LSH index
    (:func:`~python_plugins_spark.operators.similarity.lsh_bucket_expr`),
    checked against already-admitted vectors by ONE bucket equi-join +
    exact cosine >= ``threshold`` (batch side broadcast — map-side
    over the index scan, no index shuffle), deduped within itself
    (a row is rejected when a SMALLER-id batch member shares a bucket
    within the radius — first-arrival-wins, the window-dedup
    convention; a chained near-group admits its smallest id), and
    survivors append (id, vector, bucket) atomically — the
    semantic-dedup admission step a streaming corpus pipeline runs
    before training-set assembly. Returns the admitted rows.

    Recall contract is the LSH one (same as lsh_bucketed_neardup): a
    near-pair split across all ``n_planes`` sign buckets is missed;
    fewer planes -> bigger buckets -> higher recall, more exact-cosine
    verification per batch. Per-batch cost: one bucket equi-join
    against the index + one batch-sized self-join — never O(corpus)
    pairs. The index is self-limiting like the phash one: every
    admitted vector is > radius from all earlier admissions within
    its bucket, so degenerate identical-embedding floods cannot
    accumulate."""
    import os
    import shutil
    import uuid

    from python_plugins_spark.functions import cosine_similarity
    from python_plugins_spark.operators.similarity import lsh_bucket_expr
    from python_plugins_spark.session import stage_checkpoint
    from python_plugins_spark.sources.delta_py import read_delta, write_delta
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    run = uuid.uuid4().hex[:8]
    table = os.path.join(scratch_dir, f"emb_state_{run}")
    shutil.rmtree(table, ignore_errors=True)
    # bootstrap an EMPTY index so every wave goes through the same
    # radius admission (the online family's convention)
    write_delta(
        emb.select(
            F.col(id_col),
            F.col(vec_col),
            lsh_bucket_expr(vec_col, n_planes, seed, dim).alias("bucket"),
        ).limit(0),
        table,
        mode="overwrite",
    )
    stream = _id_ranged_wave_stream(
        spark, emb.select(id_col, vec_col), id_col, scratch_dir, n_waves, run
    )

    def dedup_batch(bdf, epoch_id):
        b = bdf.select(
            F.col(id_col),
            F.col(vec_col),
            lsh_bucket_expr(vec_col, n_planes, seed, dim).alias("bucket"),
        ).transform(stage_checkpoint)  # tiny batch frame, 3 consumers
        # within-batch: reject vs any SMALLER-id bucket-mate in radius
        lhs = b.select(
            F.col(id_col).alias("_id_a"), F.col(vec_col).alias("_v_a"),
            "bucket",
        )
        rhs = b.select(
            F.col(id_col).alias("_id_b"), F.col(vec_col).alias("_v_b"),
            "bucket",
        )
        intra_rejected = (
            lhs.join(rhs, on="bucket")
            .filter(F.col("_id_a") < F.col("_id_b"))
            .filter(
                cosine_similarity(F.col("_v_a"), F.col("_v_b"))
                >= F.lit(threshold)
            )
            .select(F.col("_id_b").alias(id_col))
            .distinct()
        )
        idx = read_delta(bdf.sparkSession, table).select(
            F.col(id_col).alias("_idx_id"),
            F.col(vec_col).alias("_idx_vec"),
            "bucket",
        )
        cross_rejected = (
            idx.join(F.broadcast(b), on="bucket")
            .filter(
                cosine_similarity(F.col(vec_col), F.col("_idx_vec"))
                >= F.lit(threshold)
            )
            .select(id_col)
            .distinct()
        )
        admitted = b.join(
            intra_rejected.unionByName(cross_rejected).distinct(),
            on=id_col,
            how="left_anti",
        )
        write_delta(admitted, table, mode="append")

    q = (
        stream.writeStream.foreachBatch(dedup_batch)
        .option(
            "checkpointLocation", os.path.join(scratch_dir, f"ckpt_{run}")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_delta(spark, table).select(id_col, vec_col)
