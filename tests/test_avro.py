"""Avro source/sink (sources/avro_py.py): self-roundtrip across the
type surface, and spec-compliance cross-validation against the
reference JVM implementation (org.apache.avro, on Spark's classpath)
via py4j."""

import datetime
import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_plugins_spark import SCRATCH
from python_plugins_spark.sources.avro_py import (
    read_container,
    register,
    write_container,
)


def test_avro_all_types_roundtrip(spark):
    """Nested record / array / map / nullable / timestamp / date /
    binary / bool survive write->read bit-exactly."""
    register(spark)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField(
                "nested",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), True),
                        T.StructField("b", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [
        (
            1,
            "alpha",
            1.5,
            True,
            b"\x00\xff",
            datetime.datetime(2024, 5, 1, 12, 30, 15, 123456),
            datetime.date(2024, 5, 1),
            ["x", "y"],
            {"k1": 10, "k2": 20},
            Row(a=7, b="inner"),
        ),
        (2, None, None, None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    path = os.path.join(SCRATCH, "avro_all_types")
    df.write.format("avro_py").mode("overwrite").save(path)
    back = spark.read.format("avro_py").load(path)
    assert back.schema == schema
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert got == want


def test_avro_jvm_cross_validation(spark):
    """Files written by the pure-Python codec must parse under the
    reference Java Avro library (DataFileReader + GenericDatumReader):
    proves object-container spec compliance, not just self-roundtrip."""
    register(spark)
    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    path = os.path.join(SCRATCH, "avro_jvm_check")
    df.write.format("avro_py").mode("overwrite").save(path)
    files = sorted(glob.glob(os.path.join(path, "*.avro")))
    assert files

    jvm = spark._jvm
    total = 0
    for f in files:
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(f), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        try:
            schema_fields = [
                x.name() for x in reader.getSchema().getFields()
            ]
            assert schema_fields == ["id", "v", "s"]
            while reader.hasNext():
                rec = reader.next()
                rid = rec.get("id")
                assert rec.get("v") == float(rid) * 2.5
                assert str(rec.get("s")) == f"row-{rid}"
                total += 1
        finally:
            reader.close()
    assert total == 500


def test_avro_null_codec_and_python_api(tmp_path):
    """Container-level API without Spark: null codec, block framing."""
    node = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "txt", "type": ["string", "null"]},
        ],
    }
    p = str(tmp_path / "plain.avro")
    n = write_container(p, node, [(1, "a"), (2, None), (3, "c")], codec="null")
    assert n == 3
    assert list(read_container(p)) == [(1, "a"), (2, None), (3, "c")]


def test_avro_general_union_roundtrip(tmp_path):
    """General (non-nullable) unions on write (round 6 — the last avro
    refusal): each value lands in the FIRST branch whose shape matches
    (the standard Avro-library rule), bool before int (bool IS an int
    in Python), records by arity, enums by symbol membership. Values
    round-trip by branch index; unmatched values refuse."""
    import pytest

    node = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "u", "type": ["null", "long", "string", "boolean",
                                   {"type": "array", "items": "long"}]},
        ],
    }
    p = str(tmp_path / "union.avro")
    rows = [
        (1, None), (2, 42), (3, "hi"), (4, True), (5, [7, 8]), (6, False),
    ]
    assert write_container(p, node, rows, codec="null") == 6
    assert list(read_container(p)) == rows

    # bool is NOT swallowed by the long branch, ints don't match boolean
    p2 = str(tmp_path / "union2.avro")
    node2 = {
        "type": "record", "name": "r2",
        "fields": [{"name": "u", "type": ["boolean", "long"]}],
    }
    write_container(p2, node2, [(True,), (0,)], codec="null")
    assert list(read_container(p2)) == [(True,), (0,)]

    # no matching branch refuses
    with pytest.raises(ValueError, match="no union branch"):
        write_container(
            str(tmp_path / "bad.avro"), node2, [(1.5,)], codec="null"
        )


def test_avro_overwrite_two_phase_commit(spark):
    """Overwrite must not destroy the previous generation before job
    commit (ADVICE r2): a writer that aborts leaves the old files
    readable; commit renames staged parts and only then drops the old
    generation. Exercises the DataSourceWriter contract directly."""
    import json as _json

    from python_plugins_spark.schema import spark_schema_to_cdap
    from python_plugins_spark.sources.avro_py import (
        AvroPyWriter,
        _list_avro_files,
    )

    register(spark)
    path = os.path.join(SCRATCH, "avro_two_phase")
    old = spark.range(3).select(F.col("id"))
    old.write.format("avro_py").mode("overwrite").save(path)
    old_files = _list_avro_files(path)
    assert old_files

    node = _json.loads(spark_schema_to_cdap(old.schema, name="row"))

    # --- aborted overwrite: old generation survives untouched
    w = AvroPyWriter(path, node, "deflate", old_files=old_files)
    msg = w.write(iter([(99,)]))
    assert msg.staged is not None and msg.staged.startswith(".staging-")
    w.abort([])
    assert _list_avro_files(path) == old_files
    assert sorted(r.id for r in spark.read.format("avro_py").load(path).collect()) == [0, 1, 2]
    assert not [f for f in os.listdir(path) if f.startswith(".staging-")]

    # --- committed overwrite: staged part renamed, old files gone
    w2 = AvroPyWriter(path, node, "deflate", old_files=old_files)
    msg2 = w2.write(iter([(7,), (8,)]))
    orphan = w2.write(iter([(123,)]))  # speculative duplicate, not committed
    assert orphan.staged != msg2.staged
    w2.commit([msg2])
    got = sorted(r.id for r in spark.read.format("avro_py").load(path).collect())
    assert got == [7, 8]  # orphan's 123 must NOT appear
    assert not [f for f in os.listdir(path) if f.startswith(".staging-")]
    for f in old_files:
        assert not os.path.exists(f)


def test_avro_mixed_schema_directory_raises(spark, tmp_path):
    """Two container files with different schemas in one directory must
    raise at read, not silently mis-decode (ADVICE r2)."""
    register(spark)
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    write_container(
        os.path.join(d, "a.avro"),
        {"type": "record", "name": "row",
         "fields": [{"name": "k", "type": "long"}]},
        [(1,)],
    )
    write_container(
        os.path.join(d, "b.avro"),
        {"type": "record", "name": "row",
         "fields": [{"name": "k", "type": "long"},
                    {"name": "extra", "type": "string"}]},
        [(2, "x")],
    )
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="schema mismatch"):
        spark.read.format("avro_py").load(d).collect()


def test_avro_record_arity_mismatch_raises(tmp_path):
    """A row shorter than the schema must fail loudly at write time
    (ADVICE r2: zip() used to truncate silently -> corrupt block)."""
    import pytest

    node = {
        "type": "record", "name": "r",
        "fields": [{"name": "a", "type": "long"},
                   {"name": "b", "type": "long"}],
    }
    with pytest.raises(ValueError, match="arity mismatch"):
        write_container(str(tmp_path / "bad.avro"), node, [(1,)])
