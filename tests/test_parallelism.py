"""The library's one parallelism rule (``sources.io.spread_scan``).

The rule is read from the optimized plan: a batch frame that is narrow
over source scans and has fewer splits holding rows than
``defaultParallelism`` is spread; every other frame keeps its width.
These tests pin the width against the number of partitions Spark
actually fills with rows (the reference, used only here) and check that
building the operators that apply the rule runs nothing of the caller's
subtree."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from python_plugins_spark.sources.io import load_table, scan_width, spread_scan


def _write(path, n_rows, payload_bytes=8, seed=0, row_group_rows=None):
    """One uncompressed parquet file of ``n_rows`` rows with a random
    ``payload_bytes``-wide binary column (incompressible, so the file
    size is predictable), in row groups of ``row_group_rows`` rows (one
    row group by default)."""
    rng = np.random.default_rng(seed)
    blob = rng.bytes(n_rows * payload_bytes)
    payload = [blob[i * payload_bytes:(i + 1) * payload_bytes] for i in range(n_rows)]
    table = pa.table({"id": pa.array(range(n_rows), pa.int64()), "payload": payload})
    pq.write_table(
        table, path, compression="none", use_dictionary=False,
        row_group_size=row_group_rows or n_rows,
    )


def _filled_partitions(df) -> int:
    """Partitions that hold at least one row, counted by running ``df``."""
    return df.select(F.spark_partition_id()).distinct().count()


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("widths")
    parallelism = spark.sparkContext.defaultParallelism
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    wide_bytes = int(parallelism * max_split * 1.05)
    _write(str(root / "one.parquet"), 1000)
    # row groups of a quarter split, so every split holds row groups
    _write(
        str(root / "wide.parquet"), wide_bytes // 1024, payload_bytes=1024,
        row_group_rows=max_split // 4096,
    )
    assert os.path.getsize(root / "wide.parquet") > wide_bytes
    # a file of a few splits, short of one per core, in row groups of a
    # quarter split: the session's open cost cuts it into one per core
    under_bytes = int(max(parallelism - 1, 1) * max_split * 0.9)
    _write(
        str(root / "under.parquet"), under_bytes // 1024, payload_bytes=1024,
        row_group_rows=max_split // 4096,
    )
    (root / "many").mkdir()
    for i in range(3 * parallelism):
        _write(str(root / "many" / f"part-{i}.parquet"), 100, seed=i)
    for p in range(2 * parallelism):
        (root / "hive" / f"p={p}").mkdir(parents=True)
        _write(str(root / "hive" / f"p={p}" / "data.parquet"), 200, seed=p)
    return root


def _narrow_cases(spark, root):
    one = spark.read.parquet(str(root / "one.parquet"))
    wide = spark.read.parquet(str(root / "wide.parquet"))
    return {
        "one split": one,
        "over parallelism x maxPartitionBytes": wide,
        "about (parallelism - 1) x maxPartitionBytes": spark.read.parquet(
            str(root / "under.parquet")
        ),
        "many small files": spark.read.parquet(str(root / "many")),
        "hive partitions, partition filter": spark.read.parquet(str(root / "hive"))
        .filter(F.col("p") == 1),
        "projected and filtered": one.select("id").filter(F.col("id") % 3 == 0),
        "union of two scans": one.union(spark.read.parquet(str(root / "one.parquet"))),
        "union of a wide and a narrow scan": wide.union(one),
        "range": spark.range(0, 100, numPartitions=2),
    }


def test_scan_width_matches_spark(spark, inputs):
    parallelism = spark.sparkContext.defaultParallelism
    decisions, widths = set(), {}
    for name, df in _narrow_cases(spark, inputs).items():
        reference = widths[name] = _filled_partitions(df)
        assert scan_width(df) == reference, name
        spreads = reference < parallelism
        assert (spread_scan(df) is not df) == spreads, name
        decisions.add(spreads)
    # the table covers both outcomes of the rule
    assert decisions == {True, False}
    # under the session's open cost a file of a few max splits, with row
    # groups to spare, fills one split per core and is not spread
    assert widths["about (parallelism - 1) x maxPartitionBytes"] == parallelism


def test_scan_width_counts_only_splits_with_row_groups(spark, tmp_path):
    """A parquet file cut into more splits than it has row groups fills
    only the splits that hold a row group's midpoint; the others read
    nothing and are not counted."""
    _write(str(tmp_path / "one_group.parquet"), 1000, payload_bytes=1024)
    _write(str(tmp_path / "four_groups.parquet"), 1000, payload_bytes=1024, row_group_rows=250)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        one = spark.read.parquet(str(tmp_path / "one_group.parquet"))
        four = spark.read.parquet(str(tmp_path / "four_groups.parquet"))
        assert one.rdd.getNumPartitions() > 4 and four.rdd.getNumPartitions() > 4
        assert scan_width(one) == _filled_partitions(one) == 1
        assert scan_width(four) == _filled_partitions(four) == 4
        assert scan_width(one.union(four)) == 5
        if spark.sparkContext.defaultParallelism > 1:
            assert spread_scan(one) is not one
    finally:
        spark.conf.set(key, saved)


def test_scan_width_looks_up_jvm_classes_once(spark, tmp_path, monkeypatch):
    """py4j resolves a dotted JVM class name one package segment per
    round trip (~4 ms each time); scan_width resolves its classes once
    per gateway, so a repeat call, footer reads included, sends no
    lookup of an ``org`` package or class."""
    _write(str(tmp_path / "groups.parquet"), 1000, payload_bytes=1024, row_group_rows=250)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        frame = spark.read.parquet(str(tmp_path / "groups.parquet"))
        assert scan_width(frame) == 4
        client = spark.sparkContext._gateway._gateway_client
        send, sent = client.send_command, []
        monkeypatch.setattr(
            client, "send_command", lambda cmd, *a, **k: (sent.append(cmd), send(cmd, *a, **k))[1]
        )
        assert scan_width(frame) == 4
        monkeypatch.undo()
    finally:
        spark.conf.set(key, saved)
    assert sent and not [c for c in sent if c.startswith("r\nu\norg")]


def test_spread_is_to_parallelism(spark, inputs):
    df = spread_scan(spark.read.parquet(str(inputs / "one.parquet")))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # a spread frame is shuffle output: it is never re-spread
    assert scan_width(df) is None and spread_scan(df) is df


def test_width_left_alone(spark, inputs):
    one = spark.read.parquet(str(inputs / "one.parquet"))
    cases = {
        "localCheckpoint": one.localCheckpoint(),
        "aggregate": one.groupBy((F.col("id") % 7).alias("k")).count(),
        "stream": spark.readStream.schema(one.schema).parquet(str(inputs / "many")),
    }
    for name, df in cases.items():
        assert scan_width(df) is None, name
        assert spread_scan(df) is df, name


def _jobs(sc, group):
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_building_operators_starts_no_job(spark, sf_dir, monkeypatch):
    """``python_transform``, ``top_k_per_group`` and ``lang_id_tiered``
    over an aggregate build without running the aggregate.
    ``lang_id_tiered`` materializes its base pass through
    ``stage_checkpoint`` by design; nothing else may run a job, before
    or after that call."""
    from python_plugins_spark.operators import langid
    from python_plugins_spark.operators.relational import top_k_per_group
    from python_plugins_spark.operators.transform import python_transform

    sc = spark.sparkContext
    group = "parallelism-laziness"
    agg = (
        load_table(spark, "documents", sf_dir)
        .groupBy("doc_id")
        .agg(F.first("text").alias("text"), F.count("*").alias("n"))
    )
    checkpoint_jobs = set()
    real_checkpoint = langid.stage_checkpoint

    def watched_checkpoint(df):
        assert not _jobs(sc, group), "a job ran before the checkpoint"
        out = real_checkpoint(df)
        checkpoint_jobs.update(_jobs(sc, group))
        return out

    monkeypatch.setattr(langid, "stage_checkpoint", watched_checkpoint)
    sc.setJobGroup(group, "building operators over an aggregate")
    try:
        python_transform(
            agg, script="def transform(record, emitter, context):\n    emitter.emit(record)\n"
        )
        top_k_per_group(agg, ["n"], [F.col("doc_id").desc()], 1)
        assert not _jobs(sc, group)
        langid.lang_id_tiered(agg, "text", "doc_id")
        assert checkpoint_jobs, "the checkpoint did not run"
        assert _jobs(sc, group) == checkpoint_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
