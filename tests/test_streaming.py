"""Streaming layer tests: windows, sessions, stateful ops, multi-port
split via foreachBatch."""

import uuid

import pytest
from pyspark.sql import functions as F

from python_plugins_spark import SCRATCH
from python_plugins_spark.sources.io import fix_nanos_ts, load_table
from python_plugins_spark.streaming import (
    read_stream_parquet,
    run_to_memory_sink,
    session_window_agg,
    split_ports_foreach_batch,
    stateful_running_agg,
    streaming_python_transform,
    tumbling_window_agg,
)


@pytest.fixture()
def event_stream(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    return fix_nanos_ts(read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw.schema))


def test_tumbling_window_agg(spark, sf_dir, event_stream):
    agg = tumbling_window_agg(
        event_stream, "ts", "10 minutes", ["event_type"],
        {"n": F.count("*"), "total": F.round(F.sum("value"), 4)},
    )
    got = run_to_memory_sink(agg, f"tw_{uuid.uuid4().hex[:8]}", "complete")
    batch = load_table(spark, "events", sf_dir)
    batch_n = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type").count().count()
    )
    assert got.count() == batch_n
    assert got.columns[:2] == ["window_start", "window_end"]


def test_session_window_agg(spark, event_stream):
    agg = session_window_agg(
        event_stream, "ts", "30 minutes", ["user_id"], {"n": F.count("*")}
    )
    got = run_to_memory_sink(agg, f"sw_{uuid.uuid4().hex[:8]}", "complete")
    assert got.count() > 0
    assert got.columns == ["session_start", "session_end", "user_id", "n"]


def test_stateful_running_agg(spark, event_stream):
    out = stateful_running_agg(event_stream, ["event_type"], "value")
    got = run_to_memory_sink(out, f"st_{uuid.uuid4().hex[:8]}", "update")
    rows = {r.event_type: r.running_count for r in got.collect()}
    assert sum(rows.values()) > 0


def test_multiport_foreach_batch_split(spark, event_stream):
    script = """
def transform(record, emitter, context):
    if record['value'] > 100:
        emitter.emitError({'errorCode': 1, 'errorMsg': 'outlier', 'invalidRecord': record})
    else:
        emitter.emit({'event_id': record['event_id']})
"""
    res = streaming_python_transform(
        event_stream, script=script, output_schema="event_id bigint", emit_errors=True
    )
    sink = {"out": 0, "err": 0}

    def on_out(df, epoch):
        sink["out"] += df.count()

    def on_err(df, epoch):
        sink["err"] += df.count()

    q = split_ports_foreach_batch(res, on_out, on_err).start()
    q.processAllAvailable()
    q.stop()
    assert sink["out"] > 0 and sink["err"] > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: an event
    arriving in a later micro-batch, older than (max seen ts -
    watermark), is dropped; windows close and emit exactly once."""
    import os
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    base = "2024-01-01 10:{m:02d}:00"

    def write_file(name, minutes):
        rows = [(i, base.format(m=m), 1.0) for i, m in enumerate(minutes)]
        pdf = spark.createDataFrame(rows, "id long, ts_s string, v double").select(
            "id", F.col("ts_s").cast("timestamp").alias("ts"), "v"
        )
        pdf.coalesce(1).write.mode("append").parquet(src)
        # distinct mtimes -> deterministic file order under maxFilesPerTrigger
        time.sleep(1.1)

    # batch 1: events at 10:00-10:04 -> max ts 10:04
    write_file("a", [0, 1, 2, 3, 4])
    # batch 2: 10:30. The watermark COMPUTED from this batch (10:20) is
    # not in force until the batch after next: progress-reported
    # watermark is post-batch, and the filter uses the pre-batch value.
    write_file("b", [30])
    # batch 3: runs under watermark 10:20 -> closes+emits the 10:00
    # window (5 rows) and evicts its state
    write_file("c", [31])
    # batch 4: a very-late 10:01 event — older than the in-force
    # watermark, dropped before it can resurrect the closed window
    write_file("d", [1])

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .select(F.col("win.start").cast("string").alias("ws"), "n", "total")
    )
    name = "late_drop_sink"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.ws: (r.n, r.total) for r in spark.table(name).collect()}
    # the 10:00 window emitted with ONLY batch-1 rows: the late 10:01
    # event from batch 2 was dropped (n=5, not 6)
    assert got.get("2024-01-01 10:00:00") == (5, 5.0), got


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill a streaming query between micro-batches and restart it from
    the same checkpoint: the committed batch is not reprocessed, the
    pending file is — no loss, no duplicates (file-source offsets +
    sink commit log)."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "ckpt_src")
    out = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    import os

    os.makedirs(src)

    def write_file(vals):
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)

    write_file([1, 2, 3])
    schema = spark.read.parquet(src).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("doubled", F.col("v") * 2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()  # batch 0 committed
    finally:
        q.stop()  # "crash" between batches

    write_file([10, 20])  # arrives while the query is down

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = sorted(r.doubled for r in spark.read.parquet(out).collect())
    assert got == [2, 4, 6, 20, 40], got  # first file NOT duplicated


_CKPT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
_FS_MANAGER = _CKPT_PKG + "FileSystemBasedCheckpointFileManager"
_FC_MANAGER = _CKPT_PKG + "FileContextBasedCheckpointFileManager"


def _uuids_out(names):
    """``names`` sorted, with every UUID replaced by ``<uuid>``."""
    import re

    uuid_re = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    return sorted(uuid_re.sub("<uuid>", n) for n in names)


def _checkpoint_manager(spark, path):
    """The checkpoint file manager Spark picks for ``path`` under the
    session's current confs."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )


@pytest.mark.parametrize("master, local", [
    ("local", True), ("local[1]", True), ("local[4]", True), ("local[*]", True),
    ("local[4,2]", True), ("local[*,3]", True),
    ("local-cluster[2,1,1024]", False), ("spark://host:7077", False), ("yarn", False),
    ("k8s://https://host:6443", False), ("mesos://host:5050", False),
])
def test_local_master_predicate(master, local):
    from python_plugins_spark.session import is_local_master

    assert is_local_master(master) is local


def test_local_session_checkpoints_through_filesystem_api(spark, tmp_path):
    """``get_spark`` on a local master makes Spark resolve a ``file:``
    checkpoint to the FileSystem-API manager; an ``extra_conf`` value
    for the same conf wins."""
    from python_plugins_spark import get_spark

    path = "file:" + str(tmp_path / "ckpt")
    assert _checkpoint_manager(spark, path).getClass().getName() == _FS_MANAGER
    before = spark.conf.get(_CKPT_MANAGER_CONF)
    try:
        again = get_spark(
            "tests", master="local[4]",
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            extra_conf={_CKPT_MANAGER_CONF: _FC_MANAGER},
        )
        assert again is spark
        assert _checkpoint_manager(spark, path).getClass().getName() == _FC_MANAGER
    finally:
        spark.conf.set(_CKPT_MANAGER_CONF, before)
    assert _checkpoint_manager(spark, path).getClass().getName() == _FS_MANAGER


def test_checkpoint_atomic_create_refuses_overwrite(spark, tmp_path):
    """Under both managers, ``createAtomic(p, overwriteIfPossible=false)``
    over an existing file raises ``FileAlreadyExistsException``, keeps
    the existing file and leaves the same files behind."""
    import os

    from py4j.protocol import Py4JJavaError

    before = spark.conf.get(_CKPT_MANAGER_CONF)
    listings = []
    try:
        for manager in (_FS_MANAGER, _FC_MANAGER):
            spark.conf.set(_CKPT_MANAGER_CONF, manager)
            root = tmp_path / manager.rsplit(".", 1)[1]
            target = spark._jvm.org.apache.hadoop.fs.Path("file:" + str(root / "0"))
            fm = _checkpoint_manager(spark, "file:" + str(root))
            assert fm.getClass().getName() == manager
            fm.mkdirs(target.getParent())
            out = fm.createAtomic(target, False)
            out.write(bytearray(b"first"))
            out.close()
            listing = sorted(os.listdir(root))
            second = fm.createAtomic(target, False)
            second.write(bytearray(b"second"))
            with pytest.raises(Py4JJavaError) as err:
                second.close()
            exists_error = spark._jvm.org.apache.hadoop.fs.FileAlreadyExistsException
            assert exists_error._java_lang_class.isInstance(err.value.java_exception), manager
            assert (root / "0").read_bytes() == b"first", manager
            assert listing == [".0.crc", "0"], manager
            listings.append(_uuids_out(sorted(os.listdir(root))))
    finally:
        spark.conf.set(_CKPT_MANAGER_CONF, before)
    # both leave the refused write's temp file (and its .crc) behind
    assert listings[0] == listings[1], listings


def test_checkpoint_resumes_across_file_managers(spark, tmp_path):
    """A stateful stream (file source, deduplication, parquet sink)
    checkpointed under one manager resumes exactly once under the other,
    in both directions, and both leave the same checkpoint and sink
    files (``.crc`` sidecars included) up to the UUIDs in file names."""
    import os
    import time

    def write_file(src, vals):
        spark.createDataFrame([(v,) for v in vals], "v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)

    def run(root, manager):
        spark.conf.set(_CKPT_MANAGER_CONF, manager)
        q = (
            spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(root, "src"))
            .dropDuplicates(["v"])
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "out"))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def listing(root):
        return _uuids_out(
            os.path.relpath(os.path.join(d, f), root) for d, _, files in os.walk(root) for f in files
        )

    before = spark.conf.get(_CKPT_MANAGER_CONF)
    listings = []
    try:
        for first, second in ((_FC_MANAGER, _FS_MANAGER), (_FS_MANAGER, _FC_MANAGER)):
            root = str(tmp_path / first.rsplit(".", 1)[1])
            write_file(os.path.join(root, "src"), [1, 2, 3])
            run(root, first)
            # arrives while the query is down; 2 and 3 are duplicates the
            # restored dedup state must drop
            write_file(os.path.join(root, "src"), [2, 3, 10])
            run(root, second)
            got = sorted(r.v for r in spark.read.parquet(os.path.join(root, "out")).collect())
            assert got == [1, 2, 3, 10], (first, got)
            listings.append(listing(root))
    finally:
        spark.conf.set(_CKPT_MANAGER_CONF, before)
    assert listings[0] == listings[1]
    assert "ckpt/offsets/.1.crc" in listings[0] and "ckpt/commits/.1.crc" in listings[0]
    # state-store files (HDFS-backed `.delta`, or RocksDB's, whichever
    # provider the session has) are in the compared listing too
    assert any(p.startswith("ckpt/state/0/0/") and ".crc" not in p for p in listings[0])
    assert not any(p.endswith(".tmp") for p in listings[0])


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join (impressions left,
    clicks right, click within 10 min of impression): matched rows emit
    as soon as both sides arrive; an unmatched impression emits with a
    NULL click only after the watermark passes the end of its join
    range (state eviction proves bounded state at scale)."""
    import os
    import time

    from pyspark.sql import functions as F

    imp_dir = str(tmp_path / "imp")
    clk_dir = str(tmp_path / "clk")
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)

    def write(path, rows):
        spark.createDataFrame(rows, "id long, ts_s string").select(
            "id", F.col("ts_s").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)

    # impression 1 gets a click, impression 2 never does
    write(imp_dir, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")])
    write(clk_dir, [(100, "2024-01-01 10:02:00")])
    schema = spark.read.parquet(imp_dir).schema

    imp = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(imp_dir)
        .select(F.col("id").alias("imp_id"), F.col("ts").alias("imp_ts"))
        .withWatermark("imp_ts", "5 minutes")
    )
    clk = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(clk_dir)
        .select(F.col("id").alias("clk_id"), F.col("ts").alias("clk_ts"))
        .withWatermark("clk_ts", "5 minutes")
    )
    joined = imp.join(
        clk,
        (F.col("clk_id") == F.col("imp_id") * 100)
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select("imp_id", F.col("clk_id").isNotNull().alias("clicked"))

    name = "ss_left_outer_sink"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        first = {r.imp_id: r.clicked for r in spark.table(name).collect()}
        # matched row is out; the unmatched one is still held in state
        assert first.get(1) is True, first
        assert 2 not in first, first

        # advance both watermarks far past imp2's join range, twice
        # (in-force watermark lags one batch behind the computed one)
        for m in (40, 41):
            write(imp_dir, [(90 + m, f"2024-01-01 10:{m:02d}:00")])
            write(clk_dir, [(190 + m, f"2024-01-01 10:{m:02d}:00")])
            q.processAllAvailable()
        got = {r.imp_id: r.clicked for r in spark.table(name).collect()}
        assert got.get(2) is False, got  # NULL-padded emit after eviction
    finally:
        q.stop()


def test_stateful_event_time_timeout_session_close(spark, tmp_path):
    """applyInPandasWithState with EventTimeTimeout: a per-user session
    accumulates across micro-batches; when the watermark passes the
    session's timeout timestamp (last event + 5 min gap), the function
    is re-invoked with hasTimedOut=True, emits the closed session, and
    removes the state — the full lifecycle of a custom session-gap
    operator (state is provably bounded: closed keys leave the store)."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "sess_src")
    os.makedirs(src)

    def write(rows):
        spark.createDataFrame(rows, "user string, ts_s string, v double").select(
            "user", F.col("ts_s").cast("timestamp").alias("ts"), "v"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    GAP_MS = 5 * 60 * 1000

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            n, tot = state.get
            state.remove()
            yield pd.DataFrame(
                {"user": [key[0]], "n": [int(n)], "total": [float(tot)], "closed": [True]}
            )
        else:
            n, tot, last_ms = 0, 0.0, 0
            for pdf in pdfs:
                n += len(pdf)
                tot += float(pdf["v"].sum())
                last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
            if state.exists:
                pn, pt = state.get
                n += pn
                tot += pt
            state.update((n, tot))
            state.setTimeoutTimestamp(last_ms + GAP_MS)
            yield pd.DataFrame(
                {"user": [key[0]], "n": [int(n)], "total": [float(tot)], "closed": [False]}
            )

    # batch 1: user A's session (10:00, 10:02)
    write([("A", "2024-01-01 10:00:00", 1.0), ("A", "2024-01-01 10:02:00", 2.0)])
    # batches 2+3: user B far ahead — advances the watermark past A's
    # timeout (10:07); two batches because the in-force watermark lags
    write([("B", "2024-01-01 10:30:00", 5.0)])
    write([("B", "2024-01-01 10:31:00", 5.0)])

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    out = stream.groupBy("user").applyInPandasWithState(
        fn,
        outputStructType="user string, n int, total double, closed boolean",
        stateStructType="n int, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = "sess_timeout_sink"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    closed = [r for r in rows if r.closed and r.user == "A"]
    assert len(closed) == 1, rows
    assert closed[0].n == 2 and abs(closed[0].total - 3.0) < 1e-9, closed


def test_transform_with_state_max_tracker(spark, sf_dir):
    """transformWithStateInPandas end-to-end (un-gated by the vendored
    protobuf shim): per-key ValueState running max over one micro-batch
    must equal the batch MAX."""
    from pyspark.sql import functions as F

    from python_plugins_spark.queries import QUERIES

    got = {
        r.event_type: r.max_value
        for r in QUERIES["streaming_stateful_max"](spark, sf_dir).collect()
    }
    from python_plugins_spark.sources.io import load_table

    expect = {
        r.event_type: r.m
        for r in load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.round(F.max("value"), 4).alias("m"))
        .collect()
    }
    assert got == expect


def test_transform_with_state_processing_time_timer(spark):
    """transformWithStateInPandas TIMER surface: a processing-time
    timer registered in batch 1 must fire by batch 2 (two micro-batches
    via maxFilesPerTrigger=1) and route through handleExpiredTimer —
    the state-expiry mechanism any TTL'd session store needs."""
    import os
    import shutil

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    import time as _t

    src = f"{SCRATCH}/tws_timer_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    # distinct mtimes -> deterministic file order/batching under
    # maxFilesPerTrigger (same-second files can merge into one batch,
    # and A's timer then has no later batch to fire in)
    pq.write_table(pa.table({"k": ["A"], "v": [1.0]}), os.path.join(src, "f1.parquet"))
    _t.sleep(1.1)
    pq.write_table(pa.table({"k": ["B"], "v": [2.0]}), os.path.join(src, "f2.parquet"))
    _t.sleep(1.1)
    pq.write_table(pa.table({"k": ["C"], "v": [3.0]}), os.path.join(src, "f3.parquet"))

    class TimerTracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._seen = handle.getValueState("seen", "n long")

        def handleInputRows(self, key, rows, timer_values):
            n = self._seen.get()[0] if self._seen.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._seen.update((n,))
            # fire on the NEXT batch: expiry is already in the past
            self._handle.registerTimer(
                timer_values.getCurrentProcessingTimeInMs() + 1
            )
            yield pd.DataFrame({"k": [key[0]], "event": ["rows"], "n": [n]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame({"k": [key[0]], "event": ["timer"], "n": [-1]})

        def close(self) -> None:
            pass

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stream.groupBy("k").transformWithStateInPandas(
        statefulProcessor=TimerTracker(),
        outputStructType="k string, event string, n long",
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        # 2 keys total: 4 state partitions instead of 32 keeps the
        # per-batch RocksDB open/commit cost test-sized
        "spark.sql.shuffle.partitions": "4",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_timer_sink")
            .trigger(availableNow=True)
            .start()
        )
        try:
            # the data batches drain in a few seconds; B's still-pending
            # timer keeps the query alive past them, so bound the wait
            # instead of awaiting self-termination
            import time as _time

            deadline = _time.time() + 120
            while _time.time() < deadline:
                rows_so_far = spark.table("tws_timer_sink").collect()
                if any(r.event == "timer" for r in rows_so_far):
                    break
                _time.sleep(1)
        finally:
            q.stop()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    rows = spark.table("tws_timer_sink").collect()
    events = {(r.k, r.event) for r in rows}
    assert ("A", "rows") in events and ("B", "rows") in events
    # A's batch-1 timer expired before batch 2 ran
    assert ("A", "timer") in events, rows


def test_transform_with_state_map_state(spark, sf_dir):
    """transformWithStateInPandas MapState surface: per-user map of
    event_type -> running count, folded across batches and emitted as
    (user_bucket, event_type, n). Single-batch drain must equal the
    batch group-by."""
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from python_plugins_spark.sources.io import ensure_session_confs, fix_nanos_ts, load_table
    from python_plugins_spark.streaming import read_stream_parquet, run_to_memory_sink

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    ).select((F.col("user_id") % 4).cast("string").alias("bucket"), "event_type")

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState("counts", "et string", "n long")

        def handleInputRows(self, key, rows, timer_values):
            for pdf in rows:
                for et, cnt in pdf.groupby("event_type").size().items():
                    cur = self._m.getValue((et,)) if self._m.containsKey((et,)) else (0,)
                    self._m.updateValue((et,), (cur[0] + int(cnt),))
            out = [(k[0], v[0]) for k, v in self._m.iterator()]
            yield pd.DataFrame(
                {
                    "bucket": [key[0]] * len(out),
                    "event_type": [k for k, _ in out],
                    "n": [v for _, v in out],
                }
            )

        def close(self) -> None:
            pass

    out = stream.groupBy("bucket").transformWithStateInPandas(
        statefulProcessor=TypeCounts(),
        outputStructType="bucket string, event_type string, n long",
        outputMode="Update",
        timeMode="None",
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = run_to_memory_sink(
            out, f"tws_map_{uuid.uuid4().hex[:8]}", output_mode="update"
        )
        got_rows = {(r.bucket, r.event_type): r.n for r in got.collect()}
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    expect = {
        (r.bucket, r.event_type): r.n
        for r in load_table(spark, "events", sf_dir)
        .groupBy((F.col("user_id") % 4).cast("string").alias("bucket"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got_rows == expect


def test_transform_with_state_initial_state(spark):
    """transformWithStateInPandas initialState: seed per-key state from
    a BATCH frame (the state-migration path when cutting a pipeline
    over to the new API), then fold one micro-batch on top. Keys A/B
    seeded 100/200; stream adds A:5, C:7 -> final maxes 100, 200, 7."""
    import os
    import shutil

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    src = f"{SCRATCH}/tws_init_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    pq.write_table(
        pa.table({"k": ["A", "C"], "v": [5.0, 7.0]}), os.path.join(src, "f1.parquet")
    )

    init = spark.createDataFrame([("A", 100.0), ("B", 200.0)], "k string, v0 double")

    class SeededMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._max = handle.getValueState("m", "m double")

        def handleInitialState(self, key, initialState, timer_values):
            self._max.update((float(initialState["v0"].iloc[0]),))

        def handleInputRows(self, key, rows, timer_values):
            cur = self._max.get()[0] if self._max.exists() else None
            for pdf in rows:
                if len(pdf):
                    m = float(pdf["v"].max())
                    cur = m if cur is None or m > cur else cur
            if cur is not None:
                self._max.update((cur,))
                yield pd.DataFrame({"k": [key[0]], "max_value": [cur]})

        def close(self) -> None:
            pass

    stream = spark.readStream.schema("k string, v double").parquet(src)
    out = stream.groupBy("k").transformWithStateInPandas(
        statefulProcessor=SeededMax(),
        outputStructType="k string, max_value double",
        outputMode="Update",
        timeMode="None",
        initialState=init.groupBy("k"),
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_init_sink")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    got = {r.k: r.max_value for r in spark.table("tws_init_sink").collect()}
    # A: seeded 100 beats streamed 5; C: unseeded, streamed 7.
    # B emits nothing (no input rows this batch) but its state exists.
    assert got == {"A": 100.0, "C": 7.0}, got


def test_delta_stream_source_tails_and_resumes(spark, tmp_path):
    """The Delta streaming source delivers each commit exactly once:
    initial drain replays existing versions, a live append arrives as
    its own micro-batch, and a RESTART from the engine checkpoint
    resumes at the committed version (no replay, no loss)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from python_plugins_spark.sources import delta_stream
    from python_plugins_spark.sources.delta_py import write_delta

    delta_stream.register(spark)
    table = str(tmp_path / "dstream_t")
    ckpt = str(tmp_path / "dstream_ckpt")
    sink = str(tmp_path / "dstream_sink")
    df = spark.range(0, 90).selectExpr("id", "id % 3 as k")
    write_delta(df.filter("id < 30"), table, "overwrite")     # v0
    write_delta(df.filter("id >= 30 and id < 60"), table, "append")  # v1

    def drain():
        q = (
            spark.readStream.format("delta_py_stream")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    assert spark.read.parquet(sink).count() == 60

    # append while the stream is DOWN; restart resumes from checkpoint
    write_delta(df.filter("id >= 60"), table, "append")       # v2
    drain()
    got = spark.read.parquet(sink)
    assert got.count() == 90                      # no dupes, no loss
    assert got.agg(F.sum("id")).collect()[0][0] == 90 * 89 // 2


def test_delta_stream_source_refuses_non_append(spark, tmp_path):
    import pytest

    from python_plugins_spark.sources import delta_stream
    from python_plugins_spark.sources.delta_py import delete_delta, write_delta

    delta_stream.register(spark)
    table = str(tmp_path / "dstream_na")
    write_delta(spark.range(50).selectExpr("id", "id % 5 as k"), table, "overwrite")
    delete_delta(spark, table, "k = 0", mode="dv")

    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName("dsna")
        .outputMode("append")
        .start()
    )
    with pytest.raises(Exception, match="not append-only"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_delta_cdf_stream_update_and_rate_limit(spark, tmp_path):
    """readChangeFeed streams an UPDATE as paired delete+insert rows at
    one version, and max_versions_per_batch bounds each micro-batch's
    commit span after the first batch."""
    import uuid as _uuid

    from python_plugins_spark.sources import delta_stream
    from python_plugins_spark.sources.delta_py import (
        update_delta,
        write_delta,
    )

    delta_stream.register(spark)
    table = str(tmp_path / "cdcs_t")
    df = spark.range(0, 200).selectExpr("id", "id % 4 as k", "cast(id as double) as v")
    write_delta(df.coalesce(1), table, "overwrite")            # v0
    update_delta(spark, table, "k = 3", {"v": "v * -1"})        # v1

    name = f"cdcs_{_uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("max_versions_per_batch", "1")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = spark.table(name)
    by = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in t.groupBy("_change_type", "_commit_version").count().collect()
    }
    assert by[("insert", 0)] == 200
    assert by[("delete", 1)] == 50 and by[("insert", 1)] == 50
    # the update's inserted rows carry the NEW values
    upd = t.filter("_commit_version = 1 and _change_type = 'insert'")
    assert upd.filter("v != -1.0 * id").count() == 0


def test_online_dedup_cross_batch(spark):
    """The streaming dedup must drop a duplicate that arrives in a
    LATER micro-batch than its original (cross-batch state), dedupe
    within a batch, and keep the min-id survivor — equal to the batch
    dedup_exact result."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from python_plugins_spark.streaming.ops import online_exact_dedup

    scratch = f"{SCRATCH}/online_dedup_test"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    rows = [
        # wave 0 (ids 0-3): in-batch duplicate pair (0, 2)
        (0, "alpha", "s0"), (1, "beta", "s0"), (2, "alpha", "s0"), (3, "gamma", "s0"),
        # wave 1 (ids 4-7): 'beta' and 'gamma' are cross-batch dups
        (4, "beta", "s1"), (5, "delta", "s1"), (6, "gamma", "s1"), (7, "epsilon", "s1"),
        # wave 2 (ids 8-11): dup of wave-0 and wave-1 content
        (8, "alpha", "s2"), (9, "delta", "s2"), (10, "zeta", "s2"), (11, "beta", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = online_exact_dedup(
        spark, df, "doc_id", "text", ["doc_id", "source"], scratch, n_waves=3
    )
    got = {(r.doc_id, r.source) for r in out.collect()}
    assert got == {(0, "s0"), (1, "s0"), (3, "s0"), (5, "s1"), (7, "s1"), (10, "s2")}


def test_iceberg_stream_source_tails_and_resumes(spark, tmp_path):
    """Format twin of the Delta stream tests: the Iceberg source
    replays existing snapshots, resumes from the engine checkpoint
    after a restart, and delivers each snapshot exactly once."""
    from pyspark.sql import functions as F

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    iceberg_stream.register(spark)
    table = str(tmp_path / "istream_t")
    ckpt = str(tmp_path / "istream_ckpt")
    sink = str(tmp_path / "istream_sink")
    df = spark.range(0, 90).selectExpr("id", "id % 3 as k")
    write_iceberg(df.filter("id < 30"), table, "overwrite")             # v1
    write_iceberg(df.filter("id >= 30 and id < 60"), table, "append")   # v2

    def drain():
        q = (
            spark.readStream.format("iceberg_py_stream")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    assert spark.read.parquet(sink).count() == 60

    write_iceberg(df.filter("id >= 60"), table, "append")               # v3
    drain()
    got = spark.read.parquet(sink)
    assert got.count() == 90
    assert got.agg(F.sum("id")).collect()[0][0] == 90 * 89 // 2


def test_iceberg_stream_source_refuses_delete_and_overwrite(spark, tmp_path):
    import pytest

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg, write_iceberg,
    )

    iceberg_stream.register(spark)
    table = str(tmp_path / "istream_na")
    write_iceberg(spark.range(50).selectExpr("id", "id % 5 as k"), table, "overwrite")
    delete_iceberg(spark, table, "k = 0")  # position-delete snapshot

    def drain(ignore):
        reader = spark.readStream.format("iceberg_py_stream").option("path", table)
        if ignore:
            reader = reader.option("ignoreChanges", "true")
        q = (
            reader.load().writeStream.format("memory")
            .queryName(f"istream_na_{ignore}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with pytest.raises(Exception, match="delete files|not[- ]append"):
        drain(False)
    # ignoreChanges streams only genuinely-new data files
    drain(True)
    assert spark.table("istream_na_True").count() == 50


def test_iceberg_stream_cdc_insert_and_deletes(spark, tmp_path):
    """Streaming CDC twin of table_changes_iceberg: appends stream as
    'insert' rows, position-delete and equality-delete snapshots as
    'delete' rows carrying the deleted rows' values — all derived from
    metadata + executor-side file reads."""
    from pyspark.sql import functions as F

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg, equality_delete_iceberg, write_iceberg,
    )

    iceberg_stream.register(spark)
    table = str(tmp_path / "icdc_t")
    df = spark.range(20).selectExpr("id", "id % 4 as k")
    write_iceberg(df, table, "overwrite")                       # v1 inserts
    delete_iceberg(spark, table, "id < 3")                      # v2 pos-del
    equality_delete_iceberg(
        spark, table, spark.createDataFrame([(3,)], "k bigint")  # v3 eq-del
    )

    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("icdc_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("icdc_sink").collect()
    ins = {(r.id, r._commit_snapshot) for r in rows if r._change_type == "insert"}
    dels = {(r.id, r._commit_snapshot) for r in rows if r._change_type == "delete"}
    assert ins == {(i, 1) for i in range(20)}
    # v2 deleted ids 0,1,2; v3 deleted k==3 ids among the REMAINING
    # files' rows (eq deletes scope to earlier files; ids 3,7,11,15,19)
    assert {d for d in dels if d[1] == 2} == {(0, 2), (1, 2), (2, 2)}
    assert {d[0] for d in dels if d[1] == 3} == {3, 7, 11, 15, 19}


def test_stream_sources_partitioned_tables(spark, tmp_path):
    """Both table-format stream sources must reattach partition-column
    values (omitted from the data files) executor-side, in declared
    field order and declared type."""
    from pyspark.sql import functions as F

    from python_plugins_spark.sources import delta_stream, iceberg_stream
    from python_plugins_spark.sources.delta_py import write_delta
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    delta_stream.register(spark)
    iceberg_stream.register(spark)
    df = spark.range(30).selectExpr("id", "id % 3 as g", "id * 1.5 as x")

    dt = str(tmp_path / "pstream_d")
    write_delta(df, dt, "overwrite", partition_by=["g"])
    it = str(tmp_path / "pstream_i")
    write_iceberg(df, it, "overwrite", partition_by="g")

    for fmt, table in (("delta_py_stream", dt), ("iceberg_py_stream", it)):
        q = (
            spark.readStream.format(fmt).option("path", table).load()
            .writeStream.format("memory")
            .queryName(f"pstream_{fmt}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table(f"pstream_{fmt}")
        assert got.count() == 30, fmt
        per_g = {r.g: r.n for r in got.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert per_g == {0: 10, 1: 10, 2: 10}, fmt
        assert got.agg(F.sum("id")).collect()[0][0] == 30 * 29 // 2, fmt


def test_delta_cdc_stream_partitioned(spark, tmp_path):
    """The CDC stream over a hive-partitioned Delta table must emit
    insert AND delete rows with partition-column values reattached
    (data files omit them; DV deletes diff positions per file)."""
    from python_plugins_spark.sources import delta_stream
    from python_plugins_spark.sources.delta_py import delete_delta, write_delta

    delta_stream.register(spark)
    table = str(tmp_path / "cdcp_t")
    df = spark.range(30).selectExpr("id", "id % 3 as g")
    write_delta(df, table, "overwrite", partition_by=["g"])     # v0 inserts
    delete_delta(spark, table, "id < 5", mode="dv")             # v1 DV deletes

    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdcp_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("cdcp_sink").collect()
    ins = {(r.id, r.g) for r in rows if r._change_type == "insert"}
    dels = {(r.id, r.g) for r in rows if r._change_type == "delete"}
    assert ins == {(i, i % 3) for i in range(30)}
    assert dels == {(i, i % 3) for i in range(5)}  # partition value real


def test_iceberg_cdc_stream_partitioned(spark, tmp_path):
    """Iceberg CDC stream over an identity-partitioned table: inserts,
    position deletes, and equality deletes (keyed on the PARTITION
    column, which data files omit) all emit with partition values
    reassembled."""
    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg, equality_delete_iceberg, write_iceberg,
    )

    iceberg_stream.register(spark)
    table = str(tmp_path / "icdcp_t")
    df = spark.range(24).selectExpr("id", "id % 3 as g")
    write_iceberg(df, table, "overwrite", partition_by="g")     # v1
    delete_iceberg(spark, table, "id < 3")                      # v2 pos-del
    equality_delete_iceberg(
        spark, table, spark.createDataFrame([(2,)], "g bigint")  # v3 eq-del
    )

    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("icdcp_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("icdcp_sink").collect()
    ins = {(r.id, r.g) for r in rows if r._change_type == "insert"}
    assert ins == {(i, i % 3) for i in range(24)}
    d2 = {(r.id, r.g) for r in rows
          if r._change_type == "delete" and r._commit_snapshot == 2}
    assert d2 == {(0, 0), (1, 1), (2, 2)}
    # v3 equality delete on g=2 hits earlier-file rows with g==2 that
    # were not already position-deleted... (eq deletes scope to files,
    # not prior deletes, so id=2 appears again — matching the batch
    # table_changes_iceberg semantics)
    d3 = {(r.id, r.g) for r in rows
          if r._change_type == "delete" and r._commit_snapshot == 3}
    assert d3 == {(i, 2) for i in range(24) if i % 3 == 2}


def test_iceberg_stream_null_partition_value(spark, tmp_path):
    """An identity-partitioned table with a NULL partition value must
    stream the NULL through intact — not the literal string "None" (and
    numeric partition columns must not raise int("None"))."""
    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    iceberg_stream.register(spark)
    table = str(tmp_path / "inullp_t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "id long, g string"
    )
    write_iceberg(df, table, "overwrite", partition_by="g")

    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName("inullp_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.id, r.g) for r in spark.table("inullp_sink").collect()}
    assert got == {(1, "a"), (2, None), (3, "a"), (4, None)}


def _drain_table_stream(spark, fmt, table, **options):
    """Run a ``<fmt>_py_stream`` read of ``table`` to a memory sink
    until it is caught up; return the sink's rows as a frame."""
    reader = spark.readStream.format(f"{fmt}_py_stream").option("path", table)
    for key, value in options.items():
        reader = reader.option(key, value)
    name = f"tstream_{uuid.uuid4().hex[:8]}"
    q = (
        reader.load().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _rows(df, columns):
    return sorted(tuple(r) for r in df.select(*columns).collect())


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "by_g"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_table_stream_reads_match_batch_reads(spark, tmp_path, fmt, partitioned):
    """Batch/stream parity on a table with a TIMESTAMP column, flat or
    identity-partitioned (on values whose hive directory Spark escapes:
    ``g:0`` lives in ``g=g%3A0``): the append stream equals the
    snapshot read, and after a DV / position delete (plus an equality
    delete on Iceberg) the readChangeFeed stream equals table_changes /
    table_changes_iceberg row for row."""
    from python_plugins_spark.sources import delta_py as D
    from python_plugins_spark.sources import delta_stream, iceberg_stream
    from python_plugins_spark.sources import iceberg_py as I

    delta_stream.register(spark)
    iceberg_stream.register(spark)
    df = spark.range(24).selectExpr(
        "id", "concat('g:', id % 2) AS g", "timestamp_seconds(id * 3600) AS ts"
    )
    table = str(tmp_path / f"parity_{fmt}")
    if fmt == "delta":
        pb = ["g"] if partitioned else None
        D.write_delta(df.filter("id < 12"), table, "overwrite", partition_by=pb)
        D.write_delta(df.filter("id >= 12"), table, "append", partition_by=pb)
        snapshot = D.read_delta(spark, table)
    else:
        pb = "g" if partitioned else None
        I.write_iceberg(df.filter("id < 12"), table, "overwrite", partition_by=pb)
        I.write_iceberg(df.filter("id >= 12"), table, "append")
        snapshot = I.read_iceberg(spark, table)
    cols = ["id", "g", "ts"]
    appended = _drain_table_stream(spark, fmt, table)
    assert _rows(appended, cols) == _rows(snapshot, cols) == _rows(df, cols)

    if fmt == "delta":
        D.delete_delta(spark, table, "id % 3 = 0", mode="dv")
        batch = D.table_changes(spark, table, 0)
    else:
        I.delete_iceberg(spark, table, "id % 3 = 0")
        I.equality_delete_iceberg(
            spark, table, spark.createDataFrame([("g:1",)], "g string")
        )
        batch = I.table_changes_iceberg(spark, table, 1)
    streamed = _drain_table_stream(spark, fmt, table, readChangeFeed="true")
    assert streamed.columns == batch.columns
    want = _rows(batch, batch.columns)
    assert _rows(streamed, batch.columns) == want
    assert {r[:3] for r in want if r[3] == "insert"} == set(_rows(df, cols))
    assert {r[0] for r in want if r[3] == "delete"} >= {0, 3, 6, 9}


def test_iceberg_cdc_stream_on_snapshot_fork(spark, tmp_path):
    """The CDC stream of a snapshot_iceberg fork resolves position-
    delete victims from the manifests (they live under the SOURCE's
    root) and matches table_changes_iceberg."""
    from python_plugins_spark.sources import iceberg_py as I
    from python_plugins_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    src, fork = str(tmp_path / "fork_src"), str(tmp_path / "fork_dst")
    I.write_iceberg(
        spark.range(12).selectExpr("id", "concat('g', id % 2) AS g"),
        src, "overwrite", partition_by="g",
    )
    I.snapshot_iceberg(src, fork)
    I.delete_iceberg(spark, fork, "id % 3 = 0")

    batch = I.table_changes_iceberg(spark, fork, 1)
    deleted = batch.filter("_change_type = 'delete'").select("id", "g")
    assert _rows(deleted, ["id", "g"]) == [
        (0, "g0"), (3, "g1"), (6, "g0"), (9, "g1")
    ]
    streamed = _drain_table_stream(spark, "iceberg", fork, readChangeFeed="true")
    assert _rows(streamed, batch.columns) == _rows(batch, batch.columns)


def test_msgbus_stream_resumes_exactly_once(spark, tmp_path):
    """The Kafka-shaped source checkpoints {partition: consumed} and a
    restarted stream resumes after the last committed record — each
    appended segment's records are delivered exactly once. Null keys
    round-trip; the batch reader sees the same log."""
    from python_plugins_spark.sources import msgbus

    msgbus.register(spark)
    root = str(tmp_path / "broker")
    msgbus.create_topic(root, "t", partitions=2)
    msgbus.append_records(
        root, "t", 0,
        [(b"k0", b"v0", 1000), (None, b"v-nullkey", 2000)],
    )
    msgbus.append_records(root, "t", 1, [(b"k1", b"v1", 3000)])

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            spark.readStream.format("msgbus")
            .option("path", root)
            .option("topic", "t")
            .load()
            .selectExpr("cast(value as string) AS v", "partition", "offset")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    assert {r.v for r in spark.read.parquet(sink).collect()} == {
        "v0", "v-nullkey", "v1"
    }
    msgbus.append_records(root, "t", 0, [(b"k0", b"v2", 4000)])
    drain()
    rows = spark.read.parquet(sink).collect()
    assert sorted(r.v for r in rows) == ["v-nullkey", "v0", "v1", "v2"]
    # offsets are per-partition record indexes, no duplicates
    assert sorted((r.partition, r.offset) for r in rows) == [
        (0, 0), (0, 1), (0, 2), (1, 0)
    ]
    # batch reader over the same log
    batch = (
        spark.read.format("msgbus")
        .option("path", root).option("topic", "t").load()
    )
    assert batch.count() == 4
    nullkey = batch.filter("key IS NULL").collect()
    assert len(nullkey) == 1 and bytes(nullkey[0].value) == b"v-nullkey"


def test_delta_stream_on_column_mapped_table(spark, tmp_path):
    """The Delta streaming source reads column-mapping tables: files
    store physical names, the stream surfaces logical ones, and both
    the append tail and the CDC feed work across a rename."""
    import python_plugins_spark.sources.delta_py as dp
    from python_plugins_spark.sources import delta_stream

    delta_stream.register(spark)
    tbl = str(tmp_path / "cm_stream_t")
    dp.write_delta(
        spark.range(10).selectExpr("id", "id * 2.0 AS v"), tbl, "overwrite"
    )
    dp.enable_column_mapping(tbl)
    dp.rename_column(tbl, "v", "w")
    dp.write_delta(
        spark.range(10, 15).selectExpr("id", "id * 2.0 AS w"), tbl, "append"
    )

    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName("cm_stream_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.id, r.w) for r in spark.table("cm_stream_sink").collect()}
    assert got == {(i, i * 2.0) for i in range(15)}

    dp.delete_delta(spark, tbl, "id < 2", mode="dv")
    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", tbl)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cm_cdc_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("cm_cdc_sink").collect()
    ins = {(r.id, r.w) for r in rows if r._change_type == "insert"}
    dels = {r.id for r in rows if r._change_type == "delete"}
    assert ins == {(i, i * 2.0) for i in range(15)}
    assert dels == {0, 1}


def test_trigger_available_now_consumes_and_stops(spark, sf_dir, tmp_path):
    """Trigger.AvailableNow: the query consumes everything available in
    bounded batches and terminates ITSELF (no processAllAvailable/stop
    choreography) — the modern batch-over-stream trigger."""
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.io import ensure_session_confs, fix_nanos_ts
    from python_plugins_spark.streaming import read_stream_parquet

    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", schema)
    )
    sink = str(tmp_path / "an_sink")
    q = (
        stream.filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "an_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)  # self-terminates
    want = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("event_type = 'purchase'").count()
    )
    assert spark.read.parquet(sink).count() == want


def test_online_perceptual_image_dedup(spark):
    """Streaming dedup composes with the perceptual fingerprint
    unchanged: images arriving across micro-batches dedupe on their
    dHash (byte-distinct noise variants collapse; the Delta state
    carries fingerprints across waves), keeping the min-id copy —
    multimodal dedup for continuous ingestion with zero new operator
    code."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from python_plugins_spark.operators.phash import (
        image_dhash, synth_block_image_payloads,
    )
    from python_plugins_spark.streaming.ops import online_exact_dedup

    scratch = f"{SCRATCH}/online_phash_test"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    # 12 images, 4 perceptual groups (doc_id % 4 via groups=4), noise
    # variants byte-differ within each group
    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    enc = synth_block_image_payloads(ids, "doc_id", groups=4)
    hashed = image_dhash(enc, "doc_id", "payload").withColumn(
        "phash_str", F.col("phash").cast("string")
    )
    out = online_exact_dedup(
        spark, hashed, "doc_id", "phash_str", ["doc_id", "phash"],
        scratch, n_waves=3,
    )
    got = sorted(r.doc_id for r in out.collect())
    assert got == [0, 1, 2, 3]  # one min-id survivor per dHash group


def test_online_radius_phash_dedup(spark):
    """Streaming perceptual dedup at Hamming RADIUS: re-noised copies
    (variant whitening, distance 0-1 from their originals) arriving
    in a LATER wave are rejected by the banded index check — the case
    radius-0 online dedup admits — while fresh groups keep being
    admitted; the Delta fingerprint index carries state across
    micro-batches."""
    import shutil

    from python_plugins_spark.operators.phash import (
        image_dhash, synth_block_image_payloads,
    )
    from python_plugins_spark.streaming.ops import online_radius_phash_dedup

    scratch = f"{SCRATCH}/online_radius_phash_test"
    shutil.rmtree(scratch, ignore_errors=True)

    # generator ids: {0,3,6,9,12,15} are distinct groups at variant 0
    # (arrive in wave 1); {58,61,64,67} are variant-1 whitened copies
    # of groups 0/3/6/9 (arrive in the last wave: 58+ > the id-range
    # split point) — byte-distinct, Hamming <= 1 from their originals
    ids = [0, 3, 6, 9, 12, 15, 58, 61, 64, 67]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hashed = image_dhash(
        synth_block_image_payloads(
            df, "doc_id", groups=29, variant_blocks=True
        ),
        "doc_id", "payload",
    )
    out = online_radius_phash_dedup(
        spark, hashed, "doc_id", scratch, n_waves=3,
    )
    got = sorted(r.doc_id for r in out.collect())
    assert got == [0, 3, 6, 9, 12, 15], got


def test_online_embedding_radius_dedup(spark):
    """Streaming SEMANTIC dedup: a near-copy embedding (cosine ~1 to
    an admitted vector) arriving in a LATER wave is rejected by the
    LSH-bucket + exact-cosine check against the persisted index;
    orthogonal fresh vectors keep being admitted; within one wave a
    near-group admits its smallest id. Cross-batch durability: the
    wave-3 copy of a wave-1 vector is rejected even though two full
    batches passed in between."""
    import shutil

    import numpy as np

    from python_plugins_spark.streaming.ops import (
        online_embedding_radius_dedup,
    )

    scratch = f"{SCRATCH}/online_emb_radius_test"
    shutil.rmtree(scratch, ignore_errors=True)

    dim = 16
    rng = np.random.RandomState(11)
    base = rng.randn(6, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)

    def noisy(v):
        n = v + 0.01 * rng.randn(dim)
        return n / np.linalg.norm(n)

    rows = [
        # wave 1 (ids 0-9): three distinct vectors + an in-wave
        # near-copy of vector 0 (id 3 > id 0 -> rejected in-wave)
        (0, base[0]), (1, base[1]), (2, base[2]), (3, noisy(base[0])),
        # wave 2 (ids 10-19): a near-copy of wave-1's vector 1
        # (rejected vs index) + a fresh vector (admitted)
        (10, noisy(base[1])), (11, base[3]),
        # wave 3 (ids 20-29): near-copies of wave-1's vector 2 and
        # wave-2's admitted vector (both rejected) + a fresh one
        (20, noisy(base[2])), (21, noisy(base[3])), (22, base[4]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = online_embedding_radius_dedup(
        spark, emb, "vec_id", "embedding", scratch,
        dim=dim, n_planes=4, threshold=0.95, n_waves=3,
    )
    got = sorted(r.vec_id for r in out.collect())
    assert got == [0, 1, 2, 11, 22], got


def test_online_span_dedup_across_waves(spark):
    """Streaming composition of the span index: documents arriving in
    micro-batches are span-deduplicated against everything previously
    admitted — a later wave carrying a span admitted in an earlier
    wave loses it, while fresh content passes (the foreachBatch +
    Delta-index shape shared by the whole online-dedup family)."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from python_plugins_spark.operators.dedup import (
        span_index_build, span_index_ingest,
    )
    from python_plugins_spark.streaming.ops import _id_ranged_wave_stream

    scratch = f"{SCRATCH}/online_span_test"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    idx = os.path.join(scratch, f"idx_{run}")

    rows = [
        # wave 1 (ids 0-9): doc 1 introduces the span
        (1, "alpha beta gamma delta unique one"),
        (2, "totally different words entirely here"),
        # wave 2 (ids 10-19): doc 11 re-carries wave-1's span
        (11, "prefix alpha beta gamma delta suffix"),
        (12, "yet more novel content again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # bootstrap an empty index so every wave goes through ingest
    span_index_build(df.limit(0), "text", "doc_id", idx, n=4)
    stream = _id_ranged_wave_stream(spark, df, "doc_id", scratch, 2, run)

    results = {}

    def handle(bdf, epoch_id):
        cleaned = span_index_ingest(bdf, "text", "doc_id", idx, n=4)
        for r in cleaned.collect():
            results[r.doc_id] = (r.clean_text, r.n_removed)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(scratch, f"ckpt_{run}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert results[1] == ("alpha beta gamma delta unique one", 0)
    assert results[2][1] == 0
    assert results[11] == ("prefix suffix", 4)  # cross-WAVE removal
    assert results[12][1] == 0
