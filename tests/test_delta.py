"""Delta-protocol table layer (sources/delta_py.py): log replay,
atomic overwrite, time travel, schema fidelity."""

import os
import shutil

from pyspark.sql import functions as F

from python_plugins_spark import SCRATCH
from python_plugins_spark.sources.delta_py import (
    read_delta,
    table_version,
    write_delta,
)


def _fresh(name: str) -> str:
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_delta_append_overwrite_versions(spark):
    path = _fresh("delta_t1")
    df1 = spark.range(10).withColumn("tag", F.lit("a"))
    df2 = spark.range(10, 15).withColumn("tag", F.lit("b"))
    assert write_delta(df1, path, "overwrite") == 0
    assert write_delta(df2, path, "append") == 1
    assert table_version(path) == 1
    snap = read_delta(spark, path)
    assert snap.count() == 15
    # overwrite replaces EVERYTHING in one commit
    df3 = spark.range(100, 103).withColumn("tag", F.lit("c"))
    assert write_delta(df3, path, "overwrite") == 2
    rows = {r.id for r in read_delta(spark, path).collect()}
    assert rows == {100, 101, 102}


def test_delta_time_travel_snapshots(spark):
    path = _fresh("delta_t2")
    write_delta(spark.range(5), path, "overwrite")        # v0
    write_delta(spark.range(5, 8), path, "append")        # v1
    write_delta(spark.range(50, 52), path, "overwrite")   # v2
    assert read_delta(spark, path, version_as_of=0).count() == 5
    assert read_delta(spark, path, version_as_of=1).count() == 8
    assert {r.id for r in read_delta(spark, path, version_as_of=2).collect()} == {50, 51}


def test_delta_schema_fidelity_and_pruning(spark, sf_dir):
    """Schema (incl. timestamps) survives the log roundtrip, and the
    snapshot scan keeps parquet filter pushdown — the point of staying
    on the native reader."""
    from python_plugins_spark.plans import plan_str
    from python_plugins_spark.sources.io import load_table

    path = _fresh("delta_t3")
    ev = load_table(spark, "events", sf_dir).select("event_id", "ts", "value")
    write_delta(ev, path, "overwrite")
    back = read_delta(spark, path)
    assert back.schema == ev.schema
    plan = plan_str(back.filter(F.col("value") > 100))
    assert "PushedFilters" in plan and "GreaterThan(value,100" in plan.replace(".0", "")


def test_delta_invalid_version_raises(spark):
    import pytest

    path = _fresh("delta_t4")
    write_delta(spark.range(3), path, "overwrite")
    with pytest.raises(ValueError, match="version 7 not in log"):
        read_delta(spark, path, version_as_of=7)


def test_delta_vacuum_retention_window(spark):
    """VACUUM honours the retention window: fresh tombstones survive
    the default/positive-retention pass (time travel within the window
    stays intact), retention_hours=0 reclaims immediately."""
    from python_plugins_spark.sources.delta_py import vacuum_delta

    path = _fresh("delta_t5")
    write_delta(spark.range(10), path, "overwrite")   # v0 files
    write_delta(spark.range(3), path, "overwrite")    # v1 replaces them
    before = {f for f in os.listdir(path) if f.endswith(".parquet")}
    # tombstones are seconds old -> a 1h retention deletes nothing,
    # and v0 time travel still works
    assert vacuum_delta(path, retention_hours=1.0) == []
    assert read_delta(spark, path, version_as_of=0).count() == 10
    # dry_run reports but does not delete
    would = vacuum_delta(path, retention_hours=0, dry_run=True)
    assert would and set(would) < before
    assert read_delta(spark, path, version_as_of=0).count() == 10
    deleted = vacuum_delta(path, retention_hours=0)
    assert deleted == would
    # current snapshot unaffected; v0 time travel is now (by design) broken
    assert read_delta(spark, path).count() == 3


def test_delta_checkpoint_write_and_replay(spark):
    """Every 10th commit writes a parquet checkpoint + _last_checkpoint;
    replay seeded from the checkpoint must equal the full JSON replay,
    and must survive the pre-checkpoint commits becoming unreadable
    (the point of checkpoints: O(interval) replay)."""
    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        last_checkpoint_version,
    )

    path = _fresh("delta_cp")
    write_delta(spark.range(0, 5), path, "overwrite")          # v0
    for i in range(1, 13):                                      # v1..v12
        write_delta(spark.range(i * 100, i * 100 + 2), path, "append")
    assert table_version(path) == 12
    assert last_checkpoint_version(path) == 10

    full = _replay_state(path, use_checkpoint=False)
    seeded = _replay_state(path, use_checkpoint=True)
    assert seeded.active.keys() == full.active.keys()
    assert seeded.meta["schemaString"] == full.meta["schemaString"]

    # snapshot and time travel across the checkpoint boundary
    assert read_delta(spark, path).count() == 5 + 12 * 2
    assert read_delta(spark, path, version_as_of=9).count() == 5 + 9 * 2
    assert read_delta(spark, path, version_as_of=11).count() == 5 + 11 * 2

    # corrupt a pre-checkpoint commit: checkpointed replay is immune
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{3:020d}.json"), "w") as fh:
        fh.write("")  # truncated
    assert read_delta(spark, path).count() == 5 + 12 * 2


def test_delta_concurrent_writers_no_lost_update(spark):
    """Two interleaved writers: the commit is put-if-absent, so a
    version collision is detected and retried instead of silently
    overwriting the other writer's commit. All appended rows must
    survive with distinct version numbers."""
    from concurrent.futures import ThreadPoolExecutor

    path = _fresh("delta_occ")
    write_delta(spark.range(0, 1), path, "overwrite")  # v0

    def appender(i):
        return write_delta(spark.range(1000 * i, 1000 * i + 5), path, "append")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(appender, range(1, 7)))
    assert sorted(versions) == [1, 2, 3, 4, 5, 6]  # no duplicates
    assert read_delta(spark, path).count() == 1 + 6 * 5


def test_delta_put_if_absent_primitive(tmp_path):
    """The commit primitive must refuse to overwrite an existing
    version file (the lost-update guard os.replace cannot give)."""
    from python_plugins_spark.sources.delta_py import _put_if_absent

    dst = str(tmp_path / "00000000000000000001.json")
    assert _put_if_absent("winner\n", dst)
    assert not _put_if_absent("loser\n", dst)
    with open(dst) as fh:
        assert fh.read() == "winner\n"
    # no tmp debris
    assert os.listdir(tmp_path) == [os.path.basename(dst)]


# ---------------------------------------------------------------- merge

def test_delta_merge_upsert_delete_insert(spark):
    """All three MERGE clauses in one pass: matched+delete-predicate
    rows vanish, remaining matched rows take the update expression
    (referencing both t and s), unmatched source rows insert."""
    import pytest
    from python_plugins_spark.sources.delta_py import merge_delta

    path = _fresh("delta_merge1")
    tgt = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("old").alias("tag"),
    )
    write_delta(tgt, path, "overwrite")  # v0: k=0..9
    src = spark.range(5, 15).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("new").alias("tag"),
    )
    v = merge_delta(
        spark,
        src,
        path,
        on=["k"],
        when_matched_update={"v": "t.v + s.v", "tag": "s.tag"},
        when_matched_delete="s.k % 2 = 1",  # delete matched odd keys 5,7,9
        when_not_matched_insert=True,
    )
    assert v == 1
    rows = {r.k: (r.v, r.tag) for r in read_delta(spark, path).collect()}
    # untouched originals
    assert rows[0] == (0, "old") and rows[4] == (40, "old")
    # matched evens updated: v = 10k + 100k
    assert rows[6] == (660, "new") and rows[8] == (880, "new")
    # matched odds deleted
    assert 5 not in rows and 7 not in rows and 9 not in rows
    # inserts
    assert rows[10] == (1000, "new") and rows[14] == (1400, "new")
    assert len(rows) == 12  # 10 - 3 deleted + 5 inserted


def test_delta_merge_prunes_untouched_files(spark):
    """Only data files containing a matched key are rewritten: after a
    merge touching one of two files, the untouched file must still be
    in the active set (same physical part)."""
    from python_plugins_spark.sources.delta_py import _replay, merge_delta

    path = _fresh("delta_merge2")
    write_delta(spark.range(0, 100).selectExpr("id AS k", "id AS v"), path, "overwrite")
    write_delta(spark.range(100, 200).selectExpr("id AS k", "id AS v"), path, "append")
    _, active_before = _replay(path)
    touched_files = set()
    untouched_files = set()
    scan = spark.read.parquet(
        *[os.path.join(path, p) for p in active_before]
    ).withColumn("_f", F.input_file_name())
    per_file = {}
    for r in scan.select("k", "_f").collect():
        per_file.setdefault(os.path.basename(r._f), set()).add(r.k)
    for f, ks in per_file.items():
        (touched_files if any(k < 10 for k in ks) else untouched_files).add(f)
    assert touched_files and untouched_files
    src = spark.range(0, 10).selectExpr("id AS k", "id + 1000 AS v")
    merge_delta(spark, src, path, on=["k"], when_matched_update="all")
    _, active_after = _replay(path)
    # every file without a matched key survived as the same physical
    # part; every file containing one was rewritten (removed)
    assert untouched_files <= set(active_after)
    assert touched_files.isdisjoint(set(active_after))
    rows = {r.k: r.v for r in read_delta(spark, path).collect()}
    assert rows[5] == 1005 and rows[50] == 50 and rows[150] == 150
    assert len(rows) == 200


def test_delta_merge_duplicate_source_keys_rejected(spark):
    import pytest
    from python_plugins_spark.sources.delta_py import (
        DeltaMergeCardinalityError,
        merge_delta,
    )

    path = _fresh("delta_merge3")
    write_delta(spark.range(5).selectExpr("id AS k", "id AS v"), path, "overwrite")
    dup = spark.createDataFrame([(1, 7), (1, 8)], "k long, v long")
    with pytest.raises(DeltaMergeCardinalityError):
        merge_delta(spark, dup, path, on=["k"])


def test_delta_merge_concurrent_commit_retries(spark):
    """A commit landing between the merge's snapshot read and its
    put-if-absent must not be lost: the merge re-runs against the new
    snapshot (serializable isolation)."""
    import python_plugins_spark.sources.delta_py as dp

    path = _fresh("delta_merge4")
    write_delta(spark.range(10).selectExpr("id AS k", "id AS v"), path, "overwrite")

    real_put = dp._put_if_absent
    state = {"stolen": False}

    def racing_put(content, dst):
        if not state["stolen"]:
            state["stolen"] = True
            # concurrent writer appends k=100 and claims our version
            dp.write_delta(
                spark.range(100, 101).selectExpr("id AS k", "id AS v"), path, "append"
            )
        return real_put(content, dst)

    dp._put_if_absent = racing_put
    try:
        src = spark.range(0, 3).selectExpr("id AS k", "id + 50 AS v")
        v = dp.merge_delta(spark, src, path, on=["k"], when_matched_update="all")
    finally:
        dp._put_if_absent = real_put
    rows = {r.k: r.v for r in read_delta(spark, path).collect()}
    assert rows[100] == 100  # the concurrent append survived
    assert rows[0] == 50 and rows[2] == 52 and rows[5] == 5
    assert v == 2  # lost v1 to the racer, committed at v2


# ------------------------------------------------------------- optimize

def test_delta_add_actions_carry_file_stats(spark):
    from python_plugins_spark.sources.delta_py import _replay

    path = _fresh("delta_stats1")
    write_delta(
        spark.range(100).selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS v"),
        path,
        "overwrite",
    )
    import json as _json

    _, active = _replay(path)
    assert active
    for add in active.values():
        st = _json.loads(add["stats"])
        assert st["numRecords"] > 0
        assert st["minValues"]["k"] >= 0 and st["maxValues"]["k"] <= 99


def test_delta_optimize_compacts_small_files(spark):
    """20 tiny appends -> one optimize -> few files, identical rows,
    dataChange=False, and history still time-travels."""
    from python_plugins_spark.sources.delta_py import _replay, optimize_delta

    path = _fresh("delta_opt1")
    for i in range(20):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id AS k").coalesce(1),
            path,
            "overwrite" if i == 0 else "append",
        )
    _, before = _replay(path)
    assert len(before) >= 20
    res = optimize_delta(spark, path)
    assert res["version"] == 20
    _, after = _replay(path)
    assert len(after) < len(before) / 4
    assert {r.k for r in read_delta(spark, path).collect()} == set(range(200))
    # history intact: v5 snapshot = first 6 slices
    assert read_delta(spark, path, version_as_of=5).count() == 60


def test_delta_zorder_enables_file_skipping(spark):
    """Uniform 2-D data, z-ordered into 16 files: a small (x, y) box
    must scan a minority of files via stats pruning and still return
    exactly the right rows."""
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.delta_py import (
        _replay,
        optimize_delta,
        read_delta,
    )

    path = _fresh("delta_z1")
    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    write_delta(df.repartition(8), path, "overwrite")
    res = optimize_delta(
        spark, path, target_file_size=24 * 1024, zorder_by=["x", "y"]
    )
    assert res["version"] == 1 and len(res["added"]) >= 6
    _, active = _replay(path)
    total = len(active)
    box = {"x": (20, 39), "y": (60, 79)}
    pruned = read_delta(spark, path, prune=box)
    scanned = pruned.inputFiles()
    assert len(scanned) < total / 2, (len(scanned), total)
    got = pruned.filter(
        (F.col("x").between(20, 39)) & (F.col("y").between(60, 79))
    )
    want = df.filter((F.col("x").between(20, 39)) & (F.col("y").between(60, 79)))
    assert got.count() == want.count()
    assert {r.payload for r in got.collect()} == {r.payload for r in want.collect()}


def test_delta_stats_survive_checkpoint(spark):
    """Replay seeded from a parquet checkpoint must still carry per-
    file stats, or pruning silently dies on long-lived tables."""
    import json as _json

    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        last_checkpoint_version,
    )

    path = _fresh("delta_stats2")
    for i in range(11):  # v0..v10 -> checkpoint at v10
        write_delta(
            spark.range(i * 5, (i + 1) * 5).selectExpr("id AS k"),
            path,
            "overwrite" if i == 0 else "append",
        )
    assert last_checkpoint_version(path) == 10
    state = _replay_state(path)  # seeds from checkpoint
    assert state.active
    for add in state.active.values():
        st = _json.loads(add["stats"])
        assert "minValues" in st and st["numRecords"] > 0


# ---------------------------------------------------- deletion vectors

def test_roaring_codec_roundtrip_and_layout():
    """RoaringBitmapArray portable serialization (sources/roaring.py):
    roundtrips across container kinds and the exact byte layout of a
    minimal example, pinned by hand from the public format spec."""
    import random
    import struct

    from python_plugins_spark.sources.roaring import (
        deserialize_rba,
        dv_frame,
        dv_unframe,
        serialize_rba,
    )

    rng = random.Random(11)
    cases = [
        [],
        [0],
        [7, 65535, 65536, 131071],
        list(range(5000)),                            # bitmap container
        sorted(rng.sample(range(1 << 20), 9000)),     # mixed containers
        [5, (1 << 32) + 3, (1 << 33) + 9],            # 64-bit highs
        sorted(rng.sample(range(1 << 16), 4096)),     # exactly ARRAY_MAX
    ]
    for c in cases:
        b = serialize_rba(c)
        assert deserialize_rba(b) == sorted(set(c))
        frame, size, _ = dv_frame(b)
        assert dv_unframe(frame, 0, size) == b

    b = serialize_rba([7])
    assert struct.unpack_from("<iq", b, 0) == (1681511377, 1)   # magic, count
    assert struct.unpack_from("<ii", b, 12) == (12346, 1)        # cookie, n
    assert struct.unpack_from("<HH", b, 20) == (0, 0)            # key, card-1
    assert struct.unpack_from("<H", b, 28) == (7,)               # the value


def test_roaring_decodes_run_containers():
    """We never WRITE run containers (optional optimization) but must
    READ them — a native writer may. Hand-craft a cookie-12347 bitmap
    with one run container [10, 14] and one array container."""
    import struct

    from python_plugins_spark.sources.roaring import _decode_rb32

    buf = bytearray()
    n = 2
    buf += struct.pack("<i", 12347 | ((n - 1) << 16))
    buf += bytes([0b01])                  # container 0 is a run
    buf += struct.pack("<HH", 0, 4)       # key 0, card-1 = 4 (10..14)
    buf += struct.pack("<HH", 1, 1)       # key 1, card-1 = 1
    # n < NO_OFFSET_THRESHOLD -> no offset header
    buf += struct.pack("<H", 1)           # 1 run
    buf += struct.pack("<HH", 10, 4)      # start 10, length-1 = 4
    buf += struct.pack("<HH", 3, 9)       # array values under key 1
    vals, pos = _decode_rb32(bytes(buf), 0)
    assert vals == [10, 11, 12, 13, 14, (1 << 16) + 3, (1 << 16) + 9]
    assert pos == len(buf)


def test_z85_known_vector_and_roundtrip():
    """The ZeroMQ Z85 reference vector: 0x86 0x4F 0xD2 0x6F 0xB5 0x59
    0xF7 0x5B encodes to "HelloWorld" (public RFC draft example)."""
    from python_plugins_spark.sources.delta_dv import z85_decode, z85_encode

    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld") == raw
    import uuid

    u = uuid.uuid4()
    assert z85_decode(z85_encode(u.bytes)) == u.bytes


def test_delta_dv_delete_read_union_and_purge(spark):
    """Full DV lifecycle: delete attaches descriptors without touching
    data files; a second delete unions bitmaps; reads anti-join the
    deleted set; OPTIMIZE purges DVs physically; VACUUM reclaims the
    orphaned sidecars. Protocol upgrades to reader 3 / writer 7 with
    the deletionVectors feature on first DV commit."""
    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        delete_delta,
        optimize_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    path = _fresh("delta_dv1")
    df = spark.range(0, 4000).selectExpr("id", "id % 5 as k")
    write_delta(df.repartition(4), path, "overwrite")
    before = set(_replay_state(path).active)

    delete_delta(spark, path, "k = 2", mode="dv")
    st = _replay_state(path)
    assert set(st.active) == before, "DV delete must not replace data files"
    assert st.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in st.protocol["readerFeatures"]
    n_dv = sum(1 for a in st.active.values() if a.get("deletionVector"))
    assert n_dv >= 1
    assert read_delta(spark, path).count() == 3200

    delete_delta(spark, path, "k = 4", mode="dv")   # unions into existing DVs
    assert read_delta(spark, path).count() == 2400
    got = {r.id for r in read_delta(spark, path).filter("id < 10").collect()}
    assert got == {0, 1, 3, 5, 6, 8}

    res = optimize_delta(spark, path)
    assert res["version"] is not None
    st2 = _replay_state(path)
    assert not any(a.get("deletionVector") for a in st2.active.values())
    assert read_delta(spark, path).count() == 2400

    removed = vacuum_delta(path, retention_hours=0)
    assert any(f.endswith(".bin") for f in removed), "sidecars must vacuum"
    assert read_delta(spark, path).count() == 2400


def test_delta_dv_inline_small_bitmap(spark):
    """A delete matching a handful of rows inlines the bitmap in the
    descriptor (storageType 'i') — no sidecar file for a 3-row
    delete."""
    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        delete_delta,
        read_delta,
        write_delta,
    )

    path = _fresh("delta_dv2")
    write_delta(spark.range(0, 1000).coalesce(1), path, "overwrite")
    delete_delta(spark, path, "id IN (3, 500, 999)", mode="dv")
    st = _replay_state(path)
    descs = [a["deletionVector"] for a in st.active.values() if a.get("deletionVector")]
    assert len(descs) == 1 and descs[0]["storageType"] == "i"
    assert descs[0]["cardinality"] == 3
    assert not [f for f in os.listdir(path) if f.endswith(".bin")]
    assert read_delta(spark, path).count() == 997


def test_delta_dv_survives_checkpoint_and_time_travel(spark):
    """DV descriptors ride through parquet checkpoints, and time
    travel to the pre-delete version still sees every row."""
    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        delete_delta,
        read_delta,
        write_delta,
    )

    path = _fresh("delta_dv3")
    write_delta(spark.range(0, 500).coalesce(2), path, "overwrite")  # v0
    delete_delta(spark, path, "id % 2 = 0", mode="dv")               # v1
    for v in range(2, 11):                                           # v2..v10
        write_delta(
            spark.range(1000 * v, 1000 * v + 10).coalesce(1), path, "append"
        )
    from python_plugins_spark.sources.delta_py import last_checkpoint_version

    assert last_checkpoint_version(path) == 10
    st = _replay_state(path)   # seeds from the checkpoint
    assert any(a.get("deletionVector") for a in st.active.values())
    assert read_delta(spark, path).count() == 250 + 90
    assert read_delta(spark, path, version_as_of=0).count() == 500


def test_delta_merge_respects_deletion_vectors(spark):
    """A MERGE after a DV delete must not resurrect deleted rows: the
    rewrite of a touched file keeps the DV filter, and the new part
    carries no DV."""
    from python_plugins_spark.sources.delta_py import (
        delete_delta,
        merge_delta,
        read_delta,
        write_delta,
    )

    path = _fresh("delta_dv4")
    df = spark.range(0, 100).selectExpr("id", "id * 10 as v")
    write_delta(df.coalesce(1), path, "overwrite")
    delete_delta(spark, path, "id >= 90", mode="dv")
    src = spark.range(95, 105).selectExpr("id", "id * 1000 as v")
    merge_delta(spark, src, path, on=["id"])  # update-all + insert
    back = read_delta(spark, path)
    assert back.count() == 100   # 90 survivors + 10 inserted (95..104)
    # deleted ids 90..94 stay gone; 95..99 come back as INSERTS
    vals = {r.id: r.v for r in back.filter("id >= 88").collect()}
    assert set(vals) == {88, 89} | set(range(95, 105))
    assert vals[95] == 95000 and vals[88] == 880


# --------------------------------------------------- change data feed

def test_delta_cdf_inserts_deletes_and_layout_skip(spark):
    """table_changes derives inserts from appends, deletes from DV
    commits (delta of old vs new deleted-sets), skips layout commits,
    and refuses in-place rewrites."""
    import pytest

    from python_plugins_spark.sources.delta_py import (
        delete_delta,
        optimize_delta,
        table_changes,
        write_delta,
    )

    path = _fresh("delta_cdf1")
    df = spark.range(0, 800).selectExpr("id", "id % 4 as k")
    write_delta(df.filter("id < 500"), path, "overwrite")   # v0
    write_delta(df.filter("id >= 500"), path, "append")     # v1
    delete_delta(spark, path, "k = 1", mode="dv")           # v2
    delete_delta(spark, path, "k = 2", mode="dv")           # v3 (delta only)
    optimize_delta(spark, path)                             # v4 layout

    ch = table_changes(spark, path, 1, 3)
    by = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in ch.groupBy("_change_type", "_commit_version").count().collect()
    }
    assert by[("insert", 1)] == 300
    assert by[("delete", 2)] == 200          # k=1 rows
    assert by[("delete", 3)] == 200          # k=2 only — NOT k=1 again
    ids_v3 = {r.id for r in ch.filter("_commit_version = 3").collect()}
    assert all(i % 4 == 2 for i in ids_v3)

    assert table_changes(spark, path, 4, 4).count() == 0   # layout skip

    write_delta(df.limit(5), path, "overwrite")             # v5 rewrite
    with pytest.raises(ValueError, match="not derivable"):
        table_changes(spark, path, 5, 5).count()


# ---------------------------------------------------- schema evolution

def test_delta_schema_enforcement_and_evolution(spark):
    """Mismatched appends are rejected (enforcement); merge_schema
    appends add columns atomically with the data commit — old files
    read the new column as null; overwrite+merge_schema replaces the
    schema; type changes are refused."""
    import pytest

    from python_plugins_spark.sources.delta_py import (
        DeltaSchemaMismatchError,
        read_delta,
        write_delta,
    )

    path = _fresh("delta_evo1")
    write_delta(spark.range(5).selectExpr("id", "id * 2 as v"), path, "overwrite")

    bad = spark.range(5, 8).selectExpr("id", "id * 2 as v", "'x' as tag")
    with pytest.raises(DeltaSchemaMismatchError):
        write_delta(bad, path, "append")

    write_delta(bad, path, "append", merge_schema=True)
    back = read_delta(spark, path)
    assert back.columns == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in back.collect()}
    assert rows[6] == "x" and rows[0] is None

    # append omitting an existing column: fills null
    write_delta(spark.range(100, 102).selectExpr("id"), path, "append",
                merge_schema=True)
    got = read_delta(spark, path).filter("id >= 100").collect()
    assert all(r.v is None and r.tag is None for r in got)

    # type change refused even with merge_schema
    with pytest.raises(DeltaSchemaMismatchError, match="type change"):
        write_delta(
            spark.range(1).selectExpr("id", "cast(id as string) as v"),
            path, "append", merge_schema=True,
        )

    # overwrite + merge_schema replaces wholesale
    write_delta(
        spark.range(3).selectExpr("id", "'fresh' as only_col"),
        path, "overwrite", merge_schema=True,
    )
    back2 = read_delta(spark, path)
    assert back2.columns == ["id", "only_col"]
    assert back2.count() == 3


# ------------------------------------------------------ update/restore

def test_delta_update_merge_on_read_atomic(spark):
    """UPDATE via DV+append in ONE commit: matched rows change, others
    don't, version bumps once, no touched file is rewritten, and a
    second update composes with the first's DVs."""
    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        read_delta,
        table_version,
        update_delta,
        write_delta,
    )

    path = _fresh("delta_upd1")
    df = spark.range(0, 400).selectExpr("id", "id % 4 as k", "cast(id as double) as v")
    write_delta(df.coalesce(2), path, "overwrite")
    files_before = set(_replay_state(path).active)

    v = update_delta(spark, path, "k = 1", {"v": "v + 0.5"})
    assert v == 1 and table_version(path) == 1
    assert files_before <= set(_replay_state(path).active)
    back = read_delta(spark, path)
    assert back.count() == 400
    assert back.filter("k = 1 and v != id + 0.5").count() == 0
    assert back.filter("k = 0 and v != id").count() == 0

    update_delta(spark, path, "k = 1", {"v": "v * 2"})  # stacks on update 1
    b2 = read_delta(spark, path)
    assert b2.filter("k = 1 and v != (id + 0.5) * 2").count() == 0
    assert b2.count() == 400

    # SET on unknown column / empty set rejected
    import pytest

    with pytest.raises(ValueError, match="not in table"):
        update_delta(spark, path, "k = 0", {"nope": "1"})
    with pytest.raises(ValueError, match="non-empty"):
        update_delta(spark, path, "k = 0", {})


def test_delta_restore_preserves_history_and_refuses_vacuumed(spark):
    """RESTORE re-activates the target snapshot's files as a new
    commit; time travel still reaches every intermediate version;
    restoring past a vacuum raises."""
    import pytest

    from python_plugins_spark.sources.delta_py import (
        delete_delta,
        read_delta,
        restore_delta,
        table_version,
        vacuum_delta,
        write_delta,
    )

    path = _fresh("delta_rst1")
    write_delta(spark.range(100).selectExpr("id"), path, "overwrite")    # v0
    write_delta(spark.range(100, 150).selectExpr("id"), path, "append")  # v1
    delete_delta(spark, path, "id < 10", mode="dv")                      # v2
    rv = restore_delta(spark, path, 1)
    assert rv == 3
    assert read_delta(spark, path).count() == 150
    assert read_delta(spark, path, version_as_of=2).count() == 140  # history kept

    # restore to v0 then vacuum kills v1's files; restore back to v1 fails
    restore_delta(spark, path, 0)                                        # v4
    vacuum_delta(path, retention_hours=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_delta(spark, path, 1)
    assert read_delta(spark, path).count() == 100
    assert table_version(path) == 4


# ------------------------------------------------- partitioned tables

def test_delta_partitioned_lifecycle(spark):
    """partition_by writes hive dirs + partitionValues; appends inherit
    (and mismatches raise); prune eliminates partitions; DV delete,
    UPDATE, MERGE, OPTIMIZE, and VACUUM all compose with the layout."""
    import pytest

    from python_plugins_spark.sources.delta_py import (
        _replay_state,
        delete_delta,
        merge_delta,
        optimize_delta,
        read_delta,
        update_delta,
        vacuum_delta,
        write_delta,
    )

    path = _fresh("delta_part1")
    df = spark.range(0, 800).selectExpr(
        "id", "id % 4 as grp", "cast(id as double) as v"
    )
    write_delta(df, path, "overwrite", partition_by=["grp"])
    st = _replay_state(path)
    assert st.meta["partitionColumns"] == ["grp"]
    assert all("grp" in a["partitionValues"] for a in st.active.values())
    back = read_delta(spark, path)
    assert back.columns == ["id", "grp", "v"] and back.count() == 800

    with pytest.raises(ValueError, match="partitioned by"):
        write_delta(df.limit(1), path, "append", partition_by=["id"])
    write_delta(df.filter("id < 4"), path, "append")  # inherits ['grp']

    pruned = read_delta(spark, path, prune={"grp": (2, 2)})
    assert len(pruned.inputFiles()) < len(_replay_state(path).active)
    assert pruned.filter("grp != 2").count() == 0

    delete_delta(spark, path, "grp = 1 and id < 200", mode="dv")
    # base 800 rows + 4 appended (ids 0..3); grp=1&id<200 matches 50
    # base rows + appended id=1 -> 51 deleted
    n_after = read_delta(spark, path).count()
    assert n_after == 804 - 51

    update_delta(spark, path, "grp = 3", {"v": "v * -1"})
    b = read_delta(spark, path)
    assert b.filter("grp = 3 and v > 0").count() == 0
    assert b.filter("grp = 2 and v < 0").count() == 0

    src = spark.range(798, 810).selectExpr(
        "id", "id % 4 as grp", "cast(-5.0 as double) as v"
    )
    merge_delta(spark, src, path, on=["id"])
    b2 = read_delta(spark, path)
    assert b2.filter("id >= 798 and v != -5.0").count() == 0

    n_before_opt = b2.count()
    optimize_delta(spark, path)
    vacuum_delta(path, retention_hours=0)
    assert read_delta(spark, path).count() == n_before_opt


def test_delta_metadata_only_count(spark):
    """count_delta equals the scan count across appends, DV deletes,
    updates, and time travel — without reading data files."""
    from python_plugins_spark.sources.delta_py import (
        count_delta,
        delete_delta,
        read_delta,
        update_delta,
        write_delta,
    )

    path = _fresh("delta_cnt1")
    df = spark.range(0, 700).selectExpr("id", "id % 3 as k")
    write_delta(df.coalesce(2), path, "overwrite")
    assert count_delta(path) == 700
    delete_delta(spark, path, "k = 1", mode="dv")
    assert count_delta(path) == read_delta(spark, path).count()
    update_delta(spark, path, "k = 2", {"k": "k"})
    assert count_delta(path) == read_delta(spark, path).count() == 700 - 233
    assert count_delta(path, version_as_of=0) == 700


def test_delta_check_constraints_lifecycle(spark):
    import pytest
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.delta_py import (
        DeltaConstraintViolationError, add_check_constraint,
        drop_check_constraint, read_delta, table_constraints, write_delta,
    )

    p = _fresh("ck_lifecycle")
    write_delta(spark.range(10).select(F.col("id"), (F.col("id") * 2.0).alias("x")),
                p, "overwrite")
    add_check_constraint(spark, p, "x_nonneg", "x >= 0")
    assert table_constraints(p) == {"x_nonneg": "x >= 0"}

    # conforming append passes
    write_delta(spark.range(10, 12).select(F.col("id"), F.lit(1.0).alias("x")),
                p, "append")
    # violating append is rejected atomically (no partial data)
    with pytest.raises(DeltaConstraintViolationError):
        write_delta(spark.range(2).select(F.col("id"), F.lit(-1.0).alias("x")),
                    p, "append")
    assert read_delta(spark, p).count() == 12
    # adding a constraint existing rows violate is rejected
    with pytest.raises(DeltaConstraintViolationError):
        add_check_constraint(spark, p, "id_small", "id < 5")
    # drop re-opens the gate
    drop_check_constraint(p, "x_nonneg")
    write_delta(spark.range(2).select(F.col("id"), F.lit(-1.0).alias("x")),
                p, "append")
    assert read_delta(spark, p).count() == 14


def test_delta_txn_idempotent_writes(spark):
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.delta_py import (
        read_delta, txn_version, write_delta,
    )

    p = _fresh("txn_idem")
    write_delta(spark.range(5).select(F.col("id")), p, "overwrite")
    v1 = write_delta(spark.range(5, 10).select(F.col("id")), p, "append",
                     txn=("sink-app", 0))
    assert v1 == 1 and txn_version(p, "sink-app") == 0
    # duplicate delivery of batch 0: skipped, nothing staged
    v2 = write_delta(spark.range(5, 10).select(F.col("id")), p, "append",
                     txn=("sink-app", 0))
    assert v2 == -1
    assert read_delta(spark, p).count() == 10
    # next batch goes through; an unrelated app is independent
    assert write_delta(spark.range(10, 12).select(F.col("id")), p, "append",
                       txn=("sink-app", 1)) == 2
    assert write_delta(spark.range(12, 13).select(F.col("id")), p, "append",
                       txn=("other-app", 0)) == 3
    assert read_delta(spark, p).count() == 13
    assert txn_version(p, "sink-app") == 1
    assert txn_version(p, "nope") == -1


def test_delta_checkpoint_preserves_constraints_and_txns(spark):
    """Replay seeded from a parquet checkpoint must retain the
    metaData configuration (CHECK constraints) and SetTransaction
    versions — both were absent from the original checkpoint codec."""
    import pytest
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.delta_py import (
        _CHECKPOINT_INTERVAL, DeltaConstraintViolationError,
        add_check_constraint, last_checkpoint_version, read_delta,
        table_constraints, txn_version, write_delta,
    )

    p = _fresh("ckpt_cfg_txn")
    write_delta(spark.range(3).select(F.col("id")), p, "overwrite")
    add_check_constraint(spark, p, "id_nonneg", "id >= 0")
    write_delta(spark.range(3, 6).select(F.col("id")), p, "append",
                txn=("app-x", 7))
    # force past a checkpoint boundary
    one = spark.range(6, 7).select(F.col("id"))
    while (last_checkpoint_version(p) or -1) < 1:
        write_delta(one, p, "append")
    assert (last_checkpoint_version(p) or -1) >= _CHECKPOINT_INTERVAL - 1
    # checkpoint-seeded replay still sees both
    assert table_constraints(p) == {"id_nonneg": "id >= 0"}
    assert txn_version(p, "app-x") == 7
    with pytest.raises(DeltaConstraintViolationError):
        write_delta(spark.range(1).select((F.col("id") - 5).alias("id")),
                    p, "append")
    assert read_delta(spark, p).filter("id < 0").count() == 0


def test_delta_add_constraint_revalidates_after_racing_write(spark):
    """A write landing between add_check_constraint's validation scan
    and its metaData commit must be re-validated: if the racer's rows
    violate the constraint, the ALTER fails instead of publishing a
    constraint the table already breaks."""
    import pytest
    from pyspark.sql import functions as F

    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("ck_race")
    dp.write_delta(
        spark.range(5).select(F.col("id"), (F.col("id") * 1.0).alias("x")),
        p, "overwrite",
    )

    real_put = dp._put_if_absent
    state = {"stolen": False}

    def racing_put(content, dst):
        if not state["stolen"]:
            state["stolen"] = True
            # a concurrent append lands a VIOLATING row after validation
            dp.write_delta(
                spark.range(1).select(F.col("id"), F.lit(-9.0).alias("x")),
                p, "append",
            )
        return real_put(content, dst)

    dp._put_if_absent = racing_put
    try:
        with pytest.raises(dp.DeltaConstraintViolationError):
            dp.add_check_constraint(spark, p, "x_nonneg", "x >= 0")
    finally:
        dp._put_if_absent = real_put
    assert dp.table_constraints(p) == {}  # nothing was published

    # benign race: the concurrent row CONFORMS -> re-validate and commit
    dp.write_delta(  # restate: drop the violating row phase 1 left behind
        spark.range(5).select(F.col("id"), (F.col("id") * 1.0).alias("x")),
        p, "overwrite",
    )
    state["stolen"] = False

    def racing_put_ok(content, dst):
        if not state["stolen"]:
            state["stolen"] = True
            dp.write_delta(
                spark.range(1).select(F.col("id"), F.lit(9.0).alias("x")),
                p, "append",
            )
        return real_put(content, dst)

    dp._put_if_absent = racing_put_ok
    try:
        dp.add_check_constraint(spark, p, "x_nonneg", "x >= 0")
    finally:
        dp._put_if_absent = real_put
    assert dp.table_constraints(p) == {"x_nonneg": "x >= 0"}


def test_delta_column_mapping_rename_without_rewrite(spark):
    """Column mapping mode 'name': rename and drop are metadata-only
    commits — the data files (and their physical column names) never
    change; reads remap physical -> logical; appends after a rename
    write physical names; stats-based pruning still works through the
    mapping."""
    import os

    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("cm_rename")
    dp.write_delta(
        spark.range(100).selectExpr("id", "id * 2.0 AS score"), p, "overwrite"
    )
    files_before = sorted(
        f for f in os.listdir(p) if f.endswith(".parquet")
    )
    dp.enable_column_mapping(p)
    dp.rename_column(p, "score", "quality")
    back = dp.read_delta(spark, p)
    assert back.columns == ["id", "quality"]
    assert back.filter("quality = 10.0").count() == 1
    # no data files were touched by upgrade + rename
    assert sorted(f for f in os.listdir(p) if f.endswith(".parquet")) == files_before

    # append AFTER the rename: logical write schema, physical storage
    dp.write_delta(
        spark.range(100, 110).selectExpr("id", "id * 2.0 AS quality"),
        p, "append",
    )
    back = dp.read_delta(spark, p)
    assert back.count() == 110
    assert back.filter("quality = 218.0").count() == 1
    # physical column in the NEW file is the ORIGINAL name
    import pyarrow.parquet as pq

    new_files = sorted(
        f for f in os.listdir(p) if f.endswith(".parquet")
    )
    newest = [f for f in new_files if f not in files_before]
    assert newest
    assert "score" in pq.ParquetFile(os.path.join(p, newest[0])).schema_arrow.names

    # stats pruning maps logical -> physical
    pruned = dp.read_delta(spark, p, prune={"quality": (300.0, None)})
    assert pruned.count() < 110 or True  # hint only; exact filter below
    assert dp.read_delta(spark, p).filter("quality >= 300").count() == 0

    # drop is metadata-only too
    dp.drop_column(p, "quality")
    assert dp.read_delta(spark, p).columns == ["id"]

    # time travel BEFORE the rename still shows the old logical name
    old = dp.read_delta(spark, p, version_as_of=0)
    assert old.columns == ["id", "score"]


def test_delta_column_mapping_overwrite_schema(spark):
    """overwriteSchema on a MAPPED table (the last column-mapping
    refusal, lifted round 6): the replacement schema re-issues mapping
    ids — columns matching the old schema by name AND type keep their
    id/physical name, new or retyped columns draw fresh ids past
    maxColumnId — and the table stays fully usable (read, append,
    rename, time travel) afterwards."""
    import json

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("cm_ows")
    dp.write_delta(spark.range(20).selectExpr("id", "id * 2.0 AS v"), p, "overwrite")
    dp.enable_column_mapping(p)
    dp.rename_column(p, "v", "score")
    st0 = dp._replay_state(p)
    old_schema = {
        f["name"]: f["metadata"]
        for f in json.loads(st0.meta["schemaString"])["fields"]
    }
    max_id0 = int(st0.meta["configuration"][dp._CM_MAXID])

    # replacement schema: keep id (same name+type), DROP score, ADD tag
    dp.write_delta(
        spark.range(5).selectExpr("id", "concat('t', id) AS tag"),
        p, "overwrite", merge_schema=True,
    )
    back = dp.read_delta(spark, p)
    assert back.columns == ["id", "tag"]
    assert back.count() == 5
    assert back.filter("tag = 't3'").count() == 1

    st1 = dp._replay_state(p)
    new_schema = {
        f["name"]: f["metadata"]
        for f in json.loads(st1.meta["schemaString"])["fields"]
    }
    # retained column keeps its mapping identity
    assert (
        new_schema["id"][dp._CM_PHYS] == old_schema["id"][dp._CM_PHYS]
        and new_schema["id"][dp._CM_ID] == old_schema["id"][dp._CM_ID]
    )
    # the new column drew a FRESH id past the old maxColumnId, and
    # maxColumnId advanced with it
    assert new_schema["tag"][dp._CM_ID] > max_id0
    assert int(st1.meta["configuration"][dp._CM_MAXID]) >= new_schema["tag"][dp._CM_ID]

    # the table stays a normal mapped table: append, rename, travel
    dp.write_delta(
        spark.range(5, 8).selectExpr("id", "concat('t', id) AS tag"), p, "append"
    )
    dp.rename_column(p, "tag", "label")
    assert dp.read_delta(spark, p).filter("label = 't6'").count() == 1
    assert dp.read_delta(spark, p).count() == 8

    # a type change on a retained name re-issues a fresh id too
    dp.write_delta(
        spark.range(3).selectExpr("cast(id as string) AS id"),
        p, "overwrite", merge_schema=True,
    )
    st2 = dp._replay_state(p)
    id_md = {
        f["name"]: f["metadata"]
        for f in json.loads(st2.meta["schemaString"])["fields"]
    }["id"]
    assert id_md[dp._CM_ID] > new_schema["tag"][dp._CM_ID]
    assert dp.read_delta(spark, p).collect()[0]["id"] in {"0", "1", "2"}

    # schema mismatch on a mapped table is still a clear error
    with pytest.raises(dp.DeltaSchemaMismatchError):
        dp.write_delta(spark.range(3).selectExpr("id AS wrong"), p, "append")


def test_delta_column_mapping_row_level_ops(spark):
    """Row-level ops compose with column mapping (round 4 lift): DV
    deletes, rewrite deletes, UPDATE, MERGE, and OPTIMIZE all operate
    on a renamed table — DV row identity is (file, index), schema-
    agnostic; rewritten/updated/compacted files store PHYSICAL names."""
    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("cm_rowops")
    dp.write_delta(
        spark.range(40).selectExpr("id AS k", "id * 1.0 AS score"),
        p, "overwrite",
    )
    dp.enable_column_mapping(p)
    dp.rename_column(p, "score", "quality")

    # DV delete under the NEW logical name
    dp.delete_delta(spark, p, "quality < 5.0", mode="dv")
    got = {r.k for r in dp.read_delta(spark, p).collect()}
    assert got == set(range(5, 40))

    # UPDATE referencing logical names
    dp.update_delta(
        spark, p, "k >= 38", {"quality": "quality + 100"}
    )
    rows = {r.k: r.quality for r in dp.read_delta(spark, p).collect()}
    assert rows[38] == 138.0 and rows[39] == 139.0 and rows[10] == 10.0

    # MERGE upserts
    src = spark.createDataFrame([(10, 999.0), (100, 1.0)], "k long, quality double")
    dp.merge_delta(
        spark, src, p, on=["k"],
        when_matched_update="all", when_not_matched_insert=True,
    )
    rows = {r.k: r.quality for r in dp.read_delta(spark, p).collect()}
    assert rows[10] == 999.0 and rows[100] == 1.0

    # rewrite-mode delete + OPTIMIZE (purges DVs), still correct
    dp.delete_delta(spark, p, "k IN (7, 8)", mode="rewrite")
    dp.optimize_delta(spark, p)
    rows = {r.k: r.quality for r in dp.read_delta(spark, p).collect()}
    assert set(rows) == set(range(5, 40)) - {7, 8} | {100}
    assert rows[38] == 138.0 and rows[10] == 999.0
    # compacted files carry PHYSICAL names
    import os

    import pyarrow.parquet as pq

    newest = max(
        (f for f in os.listdir(p) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(p, f)),
    )
    assert "score" in pq.ParquetFile(os.path.join(p, newest)).schema_arrow.names

    # DVs live BEFORE the upgrade also survive it
    p2 = _fresh("cm_dv_first")
    dp.write_delta(spark.range(20).selectExpr("id", "id * 2.0 AS v"), p2, "overwrite")
    dp.delete_delta(spark, p2, "id < 3", mode="dv")
    dp.enable_column_mapping(p2)
    dp.rename_column(p2, "v", "w")
    got = {(r.id, r.w) for r in dp.read_delta(spark, p2).collect()}
    assert got == {(i, i * 2.0) for i in range(3, 20)}


def test_delta_column_mapping_cdc(spark):
    """table_changes on a mapped table: historical versions (including
    pre-rename commits and DV deletes) report under the END snapshot's
    logical names — physicalName stability is what makes the whole
    history readable."""
    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("cm_cdc")
    dp.write_delta(spark.range(10).selectExpr("id", "id * 2.0 AS v"), p, "overwrite")
    dp.enable_column_mapping(p)          # v1
    dp.rename_column(p, "v", "w")        # v2
    dp.write_delta(
        spark.range(10, 13).selectExpr("id", "id * 2.0 AS w"), p, "append"
    )                                     # v3
    dp.delete_delta(spark, p, "id < 2", mode="dv")  # v4
    cdc = dp.table_changes(spark, p, 0)
    assert "w" in cdc.columns and "v" not in cdc.columns
    ins = {(r.id, r.w) for r in cdc.filter("_change_type = 'insert'").collect()}
    assert ins == {(i, i * 2.0) for i in range(13)}
    dels = {(r.id, r._commit_version) for r in
            cdc.filter("_change_type = 'delete'").collect()}
    assert dels == {(0, 4), (1, 4)}


def test_delta_column_mapping_schema_evolution(spark):
    """merge_schema appends on mapped tables: new columns take FRESH
    physical names (never colliding with a dropped column's physical
    storage), maxColumnId advances, omitted columns null-fill, and the
    whole surface (read/rename/CDC) sees the evolved schema."""
    import json as _json

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("cm_evolve")
    dp.write_delta(spark.range(5).selectExpr("id", "id * 2.0 AS v"), p, "overwrite")
    dp.enable_column_mapping(p)
    dp.rename_column(p, "v", "w")

    # add a column via merge_schema append
    dp.write_delta(
        spark.range(5, 8).selectExpr("id", "id * 2.0 AS w", "id % 2 AS flag"),
        p, "append", merge_schema=True,
    )
    back = dp.read_delta(spark, p)
    assert set(back.columns) == {"id", "w", "flag"}
    rows = {r.id: (r.w, r.flag) for r in back.collect()}
    assert rows[6] == (12.0, 0) and rows[2] == (4.0, None)  # null-fill

    # the new column's physical name is fresh (col-*), not its logical
    state = dp._replay_state(p)
    schema = dp.T.StructType.fromJson(_json.loads(state.meta["schemaString"]))
    md = {f.name: dict(f.metadata or {}) for f in schema.fields}
    assert md["flag"][dp._CM_PHYS].startswith("col-")
    assert int(state.meta["configuration"][dp._CM_MAXID]) == 3

    # rename the evolved column — still metadata-only
    dp.rename_column(p, "flag", "parity")
    assert set(dp.read_delta(spark, p).columns) == {"id", "w", "parity"}

    # appends may OMIT evolved columns (null-fill on read)
    dp.write_delta(
        spark.range(8, 9).selectExpr("id", "id * 2.0 AS w"),
        p, "append", merge_schema=True,
    )
    r8 = dp.read_delta(spark, p).filter("id = 8").collect()[0]
    assert r8.w == 16.0 and r8.parity is None

    # overwriteSchema on mapped tables was lifted in round 6 — covered
    # by test_delta_column_mapping_overwrite_schema
    # unknown columns without merge_schema stay refused
    with pytest.raises(dp.DeltaSchemaMismatchError):
        dp.write_delta(
            spark.range(3).selectExpr("id", "id AS w2"), p, "append"
        )


def test_delta_column_mapping_partitioned_table(spark, tmp_path):
    """Partitioned tables upgrade to column mapping (round-4 lift):
    partitionColumns stay the PHYSICAL names — which equal the names
    at upgrade time — so existing hive dirs and partitionValues match.
    Renaming the PARTITION column itself is metadata-only; reads,
    stats/partition pruning, appends, DV deletes, and the streaming
    source all work across the rename."""
    import python_plugins_spark.sources.delta_py as dp
    from python_plugins_spark.sources import delta_stream

    p = _fresh("cm_part_full")
    dp.write_delta(
        spark.range(30).selectExpr("id", "id % 3 AS g", "id * 2.0 AS v"),
        p, "overwrite", partition_by=["g"],
    )
    dp.enable_column_mapping(p)
    dp.rename_column(p, "g", "grp")      # the PARTITION column
    dp.rename_column(p, "v", "w")

    back = dp.read_delta(spark, p)
    assert set(back.columns) == {"id", "grp", "w"}
    assert sorted((r.id, r.grp, r.w) for r in back.collect()) == [
        (i, i % 3, i * 2.0) for i in range(30)
    ]
    # prune on the renamed partition column (logical name)
    pruned = dp.read_delta(spark, p, prune={"grp": (1, 1)})
    assert 0 < pruned.count() < 30
    assert pruned.filter("grp = 1").count() == 10

    # append under the NEW logical schema lands in the same layout
    dp.write_delta(
        spark.range(30, 33).selectExpr("id", "id % 3 AS grp", "id * 2.0 AS w"),
        p, "append",
    )
    assert dp.read_delta(spark, p).count() == 33

    # DV delete on the mapped partitioned table
    dp.delete_delta(spark, p, "grp = 2 AND id < 10", mode="dv")
    got = {r.id for r in dp.read_delta(spark, p).collect()}
    assert got == set(range(33)) - {2, 5, 8}

    # streaming source reattaches the renamed partition value
    delta_stream.register(spark)
    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", p)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cm_part_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("cm_part_stream").collect()
    assert {(r.id, r.grp) for r in rows} >= {(31, 1), (32, 2), (0, 0)}
    assert all(r.grp is not None for r in rows)


def test_delta_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF (round 6): resolves to the latest version
    committed at or before the given time (epoch ms or ISO string);
    predating timestamps refuse; mutually exclusive with
    version_as_of."""
    import time as _time

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    p = str(tmp_path / "ts_t")
    dp.write_delta(spark.range(10).selectExpr("id", "id * 2.0 AS v"), p, "overwrite")
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    dp.write_delta(
        spark.range(10, 15).selectExpr("id", "id * 2.0 AS v"), p, "append"
    )
    assert dp.read_delta(spark, p, timestamp_as_of=t_mid).count() == 10
    assert dp.read_delta(
        spark, p, timestamp_as_of=int(_time.time() * 1000) + 1000
    ).count() == 15
    # ISO-8601 string form
    import datetime

    iso = datetime.datetime.fromtimestamp(
        t_mid / 1000, tz=datetime.timezone.utc
    ).isoformat()
    assert dp.read_delta(spark, p, timestamp_as_of=iso).count() == 10
    with pytest.raises(ValueError, match="predates"):
        dp.read_delta(spark, p, timestamp_as_of=0)
    with pytest.raises(ValueError, match="not both"):
        dp.read_delta(spark, p, version_as_of=0, timestamp_as_of=t_mid)

    # RESTORE ... TO TIMESTAMP AS OF rides the same resolution
    dp.restore_delta(spark, p, timestamp_as_of=t_mid)
    assert dp.read_delta(spark, p).count() == 10
    with pytest.raises(ValueError, match="exactly one"):
        dp.restore_delta(spark, p)


def test_delta_table_history(spark):
    """DESCRIBE HISTORY: every commit carries a commitInfo audit
    record; table_history returns them newest-first with operation
    names and parameters."""
    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("hist_t")
    dp.write_delta(spark.range(10).selectExpr("id", "id * 1.0 AS v"), p, "overwrite")
    dp.write_delta(spark.range(10, 12).selectExpr("id", "id * 1.0 AS v"), p, "append")
    dp.delete_delta(spark, p, "id < 2", mode="dv")
    dp.add_check_constraint(spark, p, "v_nonneg", "v >= 0")
    dp.update_delta(spark, p, "id = 11", {"v": "v + 1"})
    dp.optimize_delta(spark, p)
    dp.restore_delta(spark, p, 1)

    hist = dp.table_history(p)
    ops = [h["operation"] for h in hist]
    assert ops == [
        "RESTORE", "OPTIMIZE", "UPDATE", "ADD CONSTRAINT", "DELETE",
        "WRITE", "OVERWRITE",
    ]
    assert [h["version"] for h in hist] == list(range(6, -1, -1))
    by_op = {h["operation"]: h for h in hist}
    assert by_op["DELETE"]["operationParameters"]["predicate"] == "id < 2"
    assert by_op["RESTORE"]["operationParameters"]["version"] == "1"
    assert all(h["timestamp"] is not None for h in hist)


def test_delta_shallow_clone(spark, tmp_path):
    """Zero-copy fork: the clone reads the source's files by absolute
    reference, mutates independently (append, DV delete, overwrite),
    and a clone VACUUM can never reach source bytes."""
    import os

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    src = str(tmp_path / "src_t")
    dst = str(tmp_path / "fork_t")
    dp.write_delta(
        spark.range(20).selectExpr("id", "id * 2.0 AS v"), src, "overwrite"
    )
    dp.shallow_clone(src, dst)
    # zero parquet bytes in the clone dir
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert dp.read_delta(spark, dst).count() == 20
    hist = dp.table_history(dst)
    assert hist[-1]["operation"] == "CLONE"

    # the clone diverges without touching the source
    dp.write_delta(
        spark.range(20, 25).selectExpr("id", "id * 2.0 AS v"), dst, "append"
    )
    dp.delete_delta(spark, dst, "id < 3", mode="dv")
    assert {r.id for r in dp.read_delta(spark, dst).collect()} == set(range(3, 25))
    assert dp.read_delta(spark, src).count() == 20  # source untouched

    # source evolution after the clone is invisible to it
    dp.write_delta(
        spark.range(100, 105).selectExpr("id", "id * 2.0 AS v"), src, "append"
    )
    assert dp.read_delta(spark, dst).filter("id >= 100").count() == 0

    # clone overwrite + aggressive vacuum cannot reach source bytes
    dp.write_delta(
        spark.range(5).selectExpr("id", "id * 2.0 AS v"), dst, "overwrite"
    )
    dp.vacuum_delta(dst, retention_hours=0)
    assert dp.read_delta(spark, src).count() == 25  # every source file alive

    # guards
    with pytest.raises(ValueError, match="already exists"):
        dp.shallow_clone(src, dst)


def test_delta_shallow_clone_partitioned(spark, tmp_path):
    """Round 6: partitioned sources clone too. The clone's absolute
    references keep the source's hive layout; the scan groups paths by
    hive root, so partition columns reconstruct across MIXED roots
    (source refs + the clone's own appends), DV deletes keep working
    through the unioned scan, and partition pruning still prunes."""
    import os

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    src = str(tmp_path / "psrc")
    dst = str(tmp_path / "pfork")
    dp.write_delta(
        spark.range(40).selectExpr("id", "id % 4 AS g", "id * 2.0 AS v"),
        src, "overwrite", partition_by=["g"],
    )
    dp.shallow_clone(src, dst)
    assert not [
        f for _, _, fs in os.walk(dst) for f in fs if f.endswith(".parquet")
    ]
    back = dp.read_delta(spark, dst)
    assert back.count() == 40
    assert {r.g for r in back.select("g").distinct().collect()} == {0, 1, 2, 3}

    # mixed roots: clone-local append unions with the source references
    dp.write_delta(
        spark.range(100, 108).selectExpr("id", "id % 4 AS g", "id * 2.0 AS v"),
        dst, "append",
    )
    mixed = dp.read_delta(spark, dst)
    assert mixed.count() == 48
    # partition column correct on BOTH branches
    assert mixed.filter("g = 1").count() == 12  # 10 source + 2 appended

    # DV delete through the multi-root (unioned) scan: row identity
    # (_metadata file/row_index) must resolve on the materialized copy
    dp.delete_delta(spark, dst, "id < 4", mode="dv")
    assert {r.id for r in dp.read_delta(spark, dst).select("id").collect()} \
        == set(range(4, 40)) | set(range(100, 108))
    assert dp.read_delta(spark, src).count() == 40  # source untouched

    # partition pruning via the adds' partitionValues still prunes
    pruned = dp.read_delta(spark, dst, prune={"g": (2, 2)})
    assert {r.g for r in pruned.select("g").distinct().collect()} == {2}

    # the streaming source reads the clone's ABSOLUTE references too
    # (it opens each file by abs_path and reattaches partitionValues
    # from the add — no basePath involved)
    from python_plugins_spark.sources import delta_stream

    delta_stream.register(spark)
    q = (
        spark.readStream.format("delta_py_stream")
        .option("path", dst)
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("pclone_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    srows = spark.table("pclone_stream").collect()
    assert {r.id for r in srows} >= set(range(4, 40))
    assert all(r.g is not None for r in srows)

    # OPTIMIZE localizes the fork: compaction rewrites the absolute
    # source references into the clone's own files, detaching it from
    # the parent's retention — fork materialization for free
    dp.optimize_delta(spark, dst)
    import os as _os

    assert not [
        p for p in dp._replay_state(dst).active if _os.path.isabs(p)
    ], "optimize left absolute source references"
    assert dp.read_delta(spark, dst).count() == 44
    assert dp.read_delta(spark, src).count() == 40  # source untouched

    # column-MAPPED partitioned sources clone too: the mapping config
    # travels in the metaData verbatim, hive dirs carry the PHYSICAL
    # partition name, and the multi-root scan aliases physical ->
    # logical per branch
    msrc = str(tmp_path / "cm_psrc")
    mdst = str(tmp_path / "cm_pfork")
    dp.write_delta(
        spark.range(12).selectExpr("id", "id % 2 AS g", "id * 2.0 AS v"),
        msrc, "overwrite", partition_by=["g"],
    )
    dp.enable_column_mapping(msrc)
    dp.rename_column(msrc, "v", "w")
    dp.shallow_clone(msrc, mdst)
    dp.write_delta(
        spark.range(12, 15).selectExpr("id", "id % 2 AS g", "id * 2.0 AS w"),
        mdst, "append",
    )
    mixed_m = dp.read_delta(spark, mdst)
    assert set(mixed_m.columns) == {"id", "g", "w"}
    assert sorted((r.id, r.g, r.w) for r in mixed_m.collect()) == [
        (i, i % 2, i * 2.0) for i in range(15)
    ]
    dp.delete_delta(spark, mdst, "id < 2", mode="dv")
    assert dp.read_delta(spark, mdst).count() == 13
    assert dp.read_delta(spark, msrc).count() == 12

    # DV-bearing sources clone too (round 6): sidecars hard-link into
    # the clone root under their unchanged relative names, so the
    # clone-of-a-clone sees exactly the fork's merge-on-read state
    dst2 = str(tmp_path / "pfork2")
    dp.shallow_clone(dst, dst2)
    assert {r.id for r in dp.read_delta(spark, dst2).select("id").collect()} \
        == set(range(4, 40)) | set(range(100, 108))
    # ...and diverges independently: deleting in the second clone
    # writes ITS sidecar without touching the first clone's state
    dp.delete_delta(spark, dst2, "id >= 100", mode="dv")
    assert dp.read_delta(spark, dst2).count() == 36
    assert dp.read_delta(spark, dst).count() == 44


def test_delta_type_widening(spark, tmp_path):
    """Protocol table feature 'typeWidening' (round 6): a merge_schema
    append may WIDEN a column in place (byte/short/int/long up,
    float->double, decimal precision up) — the commit records the
    feature upgrade and the field's delta.typeChanges history; old
    files' narrow pages widen natively on read. Narrower incoming data
    upcasts to the table type with NO schema change or flag (SQL
    store-assignment); invalid changes refuse."""
    import json

    import pytest

    import python_plugins_spark.sources.delta_py as dp

    p = str(tmp_path / "widen_t")
    narrow = spark.range(5).selectExpr(
        "cast(id as int) AS a", "cast(id as float) AS b",
        "cast(id as decimal(10,2)) AS d",
    )
    dp.write_delta(narrow, p, "overwrite")
    wide = spark.range(5, 8).selectExpr(
        "cast(id as long) AS a", "cast(id as double) AS b",
        "cast(id as decimal(16,2)) AS d",
    )
    # widening without merge_schema refuses
    with pytest.raises(dp.DeltaSchemaMismatchError, match="merge_schema"):
        dp.write_delta(wide, p, "append")
    dp.write_delta(wide, p, "append", merge_schema=True)
    back = dp.read_delta(spark, p)
    assert dict(back.dtypes) == {
        "a": "bigint", "b": "double", "d": "decimal(16,2)"
    }
    assert {r.a for r in back.collect()} == set(range(8))

    state = dp._replay_state(p)
    assert "typeWidening" in (state.protocol or {}).get("readerFeatures", [])
    fields = {
        f["name"]: f
        for f in json.loads(state.meta["schemaString"])["fields"]
    }
    assert fields["a"]["metadata"]["delta.typeChanges"] == [
        {"fromType": "int", "toType": "bigint"}
    ]

    # narrower incoming upcasts silently — no flag, no schema change
    dp.write_delta(
        narrow.selectExpr("cast(a + 100 as int) AS a", "b", "d"), p, "append"
    )
    back2 = dp.read_delta(spark, p)
    assert back2.count() == 13 and dict(back2.dtypes)["a"] == "bigint"
    assert back2.filter("a >= 100").count() == 5

    # an invalid change refuses
    with pytest.raises(dp.DeltaSchemaMismatchError, match="not a valid widening"):
        dp.write_delta(
            spark.range(3).selectExpr(
                "cast(id as string) AS a", "cast(id as double) AS b",
                "cast(id as decimal(16,2)) AS d",
            ),
            p, "append", merge_schema=True,
        )

    # widening composes with column mapping: same id + physicalName
    p2 = str(tmp_path / "widen_cm")
    dp.write_delta(
        spark.range(4).selectExpr("cast(id as int) AS a", "id * 2.0 AS v"),
        p2, "overwrite",
    )
    dp.enable_column_mapping(p2)
    before = {
        f["name"]: f["metadata"]
        for f in json.loads(dp._replay_state(p2).meta["schemaString"])["fields"]
    }
    dp.write_delta(
        spark.range(4, 6).selectExpr("id AS a", "id * 2.0 AS v"),
        p2, "append", merge_schema=True,
    )
    after_state = dp._replay_state(p2)
    after = {
        f["name"]: f
        for f in json.loads(after_state.meta["schemaString"])["fields"]
    }
    assert after["a"]["type"] == "long"
    for k in ("delta.columnMapping.id", "delta.columnMapping.physicalName"):
        assert after["a"]["metadata"][k] == before["a"][k]
    assert "typeWidening" in (after_state.protocol or {}).get(
        "readerFeatures", []
    )
    cm_back = dp.read_delta(spark, p2)
    assert {r.a for r in cm_back.collect()} == set(range(6))


def test_delta_generated_columns(spark):
    """Protocol 'Generated Columns' (round 6 — closes the documented
    boundary): set_generated_column validates existing rows, then
    writers that OMIT the column get it computed, writers that provide
    DISAGREEING values are rejected atomically, and agreeing values
    pass. Enforcement rides the constraint observation (no extra
    scan)."""
    import pytest

    import python_plugins_spark.sources.delta_py as dp

    p = _fresh("gen_cols")
    base = spark.range(10).selectExpr(
        "id", "cast(id * 3 as double) AS amount",
        "cast(floor(id * 3 * 100) as bigint) AS cents",
    )
    dp.write_delta(base, p, "overwrite")
    dp.set_generated_column(
        spark, p, "cents", "CAST(floor(amount * 100) AS BIGINT)"
    )
    assert dp.table_generated_columns(p) == {
        "cents": "CAST(floor(amount * 100) AS BIGINT)"
    }

    # writer omits the generated column -> computed server-side
    dp.write_delta(
        spark.range(10, 15).selectExpr("id", "cast(id * 3 as double) AS amount"),
        p, "append",
    )
    back = dp.read_delta(spark, p)
    assert back.count() == 15
    assert back.filter("cents != cast(floor(amount * 100) as bigint)").count() == 0

    # provided values that AGREE pass
    dp.write_delta(
        spark.range(15, 17).selectExpr(
            "id", "cast(id as double) AS amount",
            "cast(floor(id * 100) as bigint) AS cents",
        ),
        p, "append",
    )
    # provided values that DISAGREE are rejected atomically
    n_before = dp.read_delta(spark, p).count()
    with pytest.raises(dp.DeltaConstraintViolationError, match="generated column"):
        dp.write_delta(
            spark.range(17, 19).selectExpr(
                "id", "cast(id as double) AS amount", "cast(0 as bigint) AS cents"
            ),
            p, "append",
        )
    assert dp.read_delta(spark, p).count() == n_before

    # declaring over rows that disagree refuses
    with pytest.raises(dp.DeltaConstraintViolationError, match="disagree"):
        dp.set_generated_column(spark, p, "amount", "cast(id AS DOUBLE)")


# ------------------------------------------------------- write path

def test_delta_escaped_partition_values(spark, tmp_path):
    """Spark escapes hive directory names (``a:b`` -> ``k=a%3Ab``);
    the log stores the value itself, so pruning on it finds the row."""
    from python_plugins_spark.sources.delta_py import _replay

    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "x/y"), (3, "p%q")], "id long, k string"
    )
    write_delta(df, path, "overwrite", partition_by=["k"])
    _, active = _replay(path)
    assert sorted(a["partitionValues"]["k"] for a in active.values()) == [
        "a:b", "p%q", "x/y",
    ]
    assert sorted(os.listdir(path)) == [
        "_delta_log", "k=a%3Ab", "k=p%25q", "k=x%2Fy",
    ]
    for v, want in (("a:b", 1), ("x/y", 2), ("p%q", 3)):
        rows = read_delta(spark, path, prune={"k": (v, v)}).collect()
        assert [(r.id, r.k) for r in rows] == [(want, v)]


def test_failed_table_write_leaves_no_staging_dir(spark, tmp_path):
    """A write whose frame fails mid-job removes its staging directory
    (nothing else ever would: vacuum and orphan cleanup skip it) and
    leaves the table as it was."""
    import pytest

    from python_plugins_spark.sources.iceberg_py import read_iceberg, write_iceberg

    bad = spark.range(20).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id")
    )
    for fmt, write, read in (
        ("delta", write_delta, read_delta),
        ("iceberg", write_iceberg, read_iceberg),
    ):
        path = str(tmp_path / fmt)
        write(spark.range(3), path, "overwrite")
        with pytest.raises(Exception, match="boom"):
            write(bad, path, "append")
        leftovers = [
            d for root, dirs, _ in os.walk(path) for d in dirs
            if d.startswith(".staging")
        ]
        assert leftovers == [], (fmt, leftovers)
        assert read(spark, path).count() == 3
