"""Iceberg-spec table layer (sources/iceberg_py.py): snapshot
roundtrip, time travel, and — the core of the format — manifest-level
file pruning from partition values and column bounds, without opening
any data file."""

import os
import shutil

from pyspark.sql import functions as F

from python_plugins_spark import SCRATCH
from python_plugins_spark.sources.iceberg_py import (
    plan_files,
    read_iceberg,
    table_snapshots,
    write_iceberg,
)


def _fresh(name: str) -> str:
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_iceberg_append_overwrite_snapshots(spark):
    path = _fresh("ice_t1")
    df1 = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("g"))
    df2 = spark.range(10, 15).select(F.col("id"), (F.col("id") % 3).alias("g"))
    s1 = write_iceberg(df1, path, "overwrite")
    s2 = write_iceberg(df2, path, "append")
    assert [s["snapshot-id"] for s in table_snapshots(path)] == [s1, s2]
    assert read_iceberg(spark, path).count() == 15
    # time travel to the first snapshot
    assert read_iceberg(spark, path, snapshot_id=s1).count() == 10
    # overwrite drops history from the NEW snapshot only
    s3 = write_iceberg(spark.range(100, 103).select(F.col("id"), F.lit(0).alias("g")),
                       path, "overwrite")
    assert {r.id for r in read_iceberg(spark, path).collect()} == {100, 101, 102}
    assert read_iceberg(spark, path, snapshot_id=s2).count() == 15


def test_iceberg_schema_fidelity(spark, sf_dir):
    from python_plugins_spark.sources.io import load_table

    path = _fresh("ice_t2")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    write_iceberg(o, path, "overwrite")
    back = read_iceberg(spark, path)
    assert back.schema == o.schema
    assert back.count() == o.count()


def test_iceberg_partition_pruning(spark):
    """eq on the identity-partition column must drop whole files at
    PLAN time (manifest walk), not scan time."""
    path = _fresh("ice_t3")
    df = spark.range(1000).select(
        F.col("id"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )
    write_iceberg(df, path, "overwrite", partition_by="grp")
    all_files = plan_files(path)
    pruned = plan_files(path, eq={"grp": "g1"})
    assert len(pruned) < len(all_files)
    assert all(f["partition"] == {"grp": "g1"} for f in pruned)
    got = read_iceberg(spark, path, eq={"grp": "g1"})
    assert got.count() == 250
    assert {r.grp for r in got.select("grp").distinct().collect()} == {"g1"}
    # partition column round-trips with the declared order and values
    assert got.columns == ["id", "grp"]


def test_iceberg_bounds_pruning(spark):
    """Range predicates prune on the parquet-footer bounds recorded in
    the manifest: a sorted-by-id table repartitioned into ranges means
    most files are disjoint from a narrow id interval."""
    path = _fresh("ice_t4")
    df = (
        spark.range(10_000)
        .repartitionByRange(8, "id")
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
    )
    write_iceberg(df, path, "overwrite")
    all_files = plan_files(path)
    assert len(all_files) >= 8
    pruned = plan_files(path, ranges={"id": (100, 200)})
    assert 0 < len(pruned) < len(all_files)
    got = read_iceberg(spark, path, ranges={"id": (100, 200)}).filter(
        (F.col("id") >= 100) & (F.col("id") <= 200)
    )
    assert got.count() == 101
    # eq against a non-partition column uses bounds too
    assert len(plan_files(path, eq={"id": 9_999})) == 1


def test_iceberg_invalid_snapshot_raises(spark):
    import pytest

    path = _fresh("ice_t5")
    write_iceberg(spark.range(3).select("id"), path, "overwrite")
    with pytest.raises(ValueError, match="snapshot 77 not in table"):
        read_iceberg(spark, path, snapshot_id=77)


# ------------------------------------------------- position deletes

def test_iceberg_positional_delete_lifecycle(spark):
    """v2 merge-on-read DELETE: position-delete parquet + content=1
    manifest entry; deletes accumulate, time travel sees pre-delete
    rows, appends after a delete are unaffected."""
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        plan_delete_files,
        plan_files,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_del1")
    df = spark.range(0, 3000).selectExpr("id", "id % 4 as k")
    write_iceberg(df.repartition(3), path, mode="overwrite")
    data_before = sorted(f["path"] for f in plan_files(path))

    s = delete_iceberg(spark, path, "k = 1")
    assert s == 2
    assert sorted(f["path"] for f in plan_files(path)) == data_before
    dels = plan_delete_files(path)
    assert len(dels) == 1 and dels[0]["path"].endswith("-deletes.parquet")
    assert dels[0]["content"] == 1 and dels[0]["equality_ids"] == []
    assert read_iceberg(spark, path).count() == 2250

    delete_iceberg(spark, path, "k = 3")          # accumulates
    assert read_iceberg(spark, path).count() == 1500
    got = {r.id for r in read_iceberg(spark, path).filter("id < 8").collect()}
    assert got == {0, 2, 4, 6}

    # time travel: snapshot 1 predates both deletes
    assert read_iceberg(spark, path, snapshot_id=1).count() == 3000
    assert plan_delete_files(path, snapshot_id=1) == []

    # append after delete: new rows with previously-deleted k survive
    write_iceberg(df.filter("k = 1").limit(5), path, mode="append")
    assert read_iceberg(spark, path).count() == 1505


def test_iceberg_delete_file_spec_shape(spark):
    """The delete file is plain parquet with the spec's (file_path,
    pos) columns, sorted by (file_path, pos), and file_path values
    name real data files of the table."""
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        plan_delete_files,
        plan_files,
        write_iceberg,
    )

    path = _fresh("ice_del2")
    df = spark.range(0, 1000).selectExpr("id", "id % 2 as k")
    write_iceberg(df.repartition(2), path, mode="overwrite")
    delete_iceberg(spark, path, "k = 0")
    (del_entry,) = plan_delete_files(path)
    pos = spark.read.parquet(os.path.join(path, del_entry["path"]))
    assert pos.schema.simpleString() == "struct<file_path:string,pos:bigint>"
    rows = pos.collect()
    keys = [(r.file_path, r.pos) for r in rows]
    assert keys == sorted(keys), "spec: sorted by (file_path, pos)"
    data_paths = {f["path"] for f in plan_files(path)}
    assert {r.file_path for r in rows} <= data_paths


def test_iceberg_delete_nothing_is_noop(spark):
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        plan_delete_files,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_del3")
    write_iceberg(spark.range(100).selectExpr("id", "id as k"), path, "overwrite")
    s = delete_iceberg(spark, path, "k > 1000000")
    assert s == 1                       # unchanged snapshot id
    assert plan_delete_files(path) == []
    assert read_iceberg(spark, path).count() == 100


def test_iceberg_equality_delete_scoped_by_snapshot(spark):
    """Equality deletes match by VALUE with no delete-time scan, apply
    only to data files from earlier snapshots (re-inserted keys
    survive), compose with position deletes, and support multiple
    equality-column groups."""
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        equality_delete_iceberg,
        plan_delete_files,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_eq1")
    df = spark.range(0, 600).selectExpr(
        "id", "id % 6 as k", "concat('u', id % 20) as user"
    )
    write_iceberg(df.repartition(2), path, mode="overwrite")        # snap 1
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([("u5",)], ["user"])
    )                                                                # snap 2
    dels = plan_delete_files(path)
    assert [d["content"] for d in dels] == [2]
    assert dels[0]["equality_ids"] == [3]  # 'user' is field id 3
    assert read_iceberg(spark, path).count() == 570

    # re-insert after the delete: scoping keeps it
    write_iceberg(
        spark.createDataFrame([(9000, 0, "u5")], ["id", "k", "user"]),
        path, mode="append",
    )                                                                # snap 3
    assert read_iceberg(spark, path).filter("user = 'u5'").count() == 1

    delete_iceberg(spark, path, "k = 2")                             # position
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([(1,)], ["k"])            # 2nd group
    )
    got = read_iceberg(spark, path).count()
    want = df.filter("user <> 'u5' and k <> 2 and k <> 1").count() + 1
    assert got == want


def test_iceberg_equality_delete_validates_columns(spark):
    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        equality_delete_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_eq2")
    write_iceberg(spark.range(10).selectExpr("id", "id % 2 as k"), path, "overwrite")
    with pytest.raises(ValueError, match="not in table schema"):
        equality_delete_iceberg(
            spark, path, spark.createDataFrame([("x",)], ["nope"])
        )
    with pytest.raises(ValueError, match="type"):
        equality_delete_iceberg(
            spark, path, spark.createDataFrame([("1",)], ["k"])  # string != long
        )


def test_iceberg_expire_snapshots_reachability(spark):
    """Expiration drops old snapshots and deletes exactly the files
    reachable ONLY from them; the current snapshot's data survives and
    time travel to expired ids raises."""
    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        expire_snapshots,
        read_iceberg,
        table_snapshots,
        write_iceberg,
    )

    path = _fresh("ice_exp1")
    write_iceberg(spark.range(100).selectExpr("id"), path, "overwrite")   # s1
    write_iceberg(spark.range(100, 150).selectExpr("id"), path, "append") # s2
    write_iceberg(spark.range(500).selectExpr("id"), path, "overwrite")   # s3
    assert len(table_snapshots(path)) == 3

    res = expire_snapshots(path, keep_last=1)
    assert res["expired"] == [1, 2]
    # s1/s2's data files are unreachable from s3 (overwrite) -> deleted
    assert any(f.startswith("data/") for f in res["deleted"])
    assert len(table_snapshots(path)) == 1
    assert read_iceberg(spark, path).count() == 500
    with pytest.raises(ValueError, match="snapshot 1 not in table"):
        read_iceberg(spark, path, snapshot_id=1).count()

    # append-only lineage: expiring keeps files still referenced by
    # the survivor
    path2 = _fresh("ice_exp2")
    write_iceberg(spark.range(10).selectExpr("id"), path2, "overwrite")
    write_iceberg(spark.range(10, 20).selectExpr("id"), path2, "append")
    res2 = expire_snapshots(path2, keep_last=1)
    assert res2["expired"] == [1]
    assert not any(f.startswith("data/") for f in res2["deleted"])
    assert read_iceberg(spark, path2).count() == 20


def test_iceberg_rewrite_data_files_purges_deletes(spark):
    """Compaction materializes the delete-applied snapshot into fresh
    files: rows identical, delete-file stack empty, old snapshot still
    time-travelable."""
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        equality_delete_iceberg,
        plan_delete_files,
        read_iceberg,
        rewrite_data_files,
        write_iceberg,
    )

    path = _fresh("ice_rw1")
    df = spark.range(0, 1000).selectExpr("id", "id % 5 as k")
    write_iceberg(df.repartition(4), path, mode="overwrite")
    delete_iceberg(spark, path, "k = 0")
    equality_delete_iceberg(spark, path, spark.createDataFrame([(3,)], ["k"]))
    before = read_iceberg(spark, path).count()
    assert before == 600 and len(plan_delete_files(path)) == 2

    res = rewrite_data_files(spark, path, target_parts=2)
    assert plan_delete_files(path) == []
    after = read_iceberg(spark, path)
    assert after.count() == before
    assert after.filter("k in (0, 3)").count() == 0
    assert res["delete_files_before"] == 2
    # pre-compaction snapshot still readable with its deletes applied
    assert read_iceberg(spark, path, snapshot_id=3).count() == 600


def test_iceberg_partitioned_with_row_deletes(spark):
    """Position + equality deletes compose with identity-partitioned
    tables (partition col reconstructed via basePath; delete files
    target partition-dir-relative paths)."""
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        equality_delete_iceberg,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_pdel1")
    df = spark.range(0, 900).selectExpr(
        "id", "concat('g', id % 3) as grp", "cast(id as double) as v"
    )
    write_iceberg(df, path, mode="overwrite", partition_by="grp")
    delete_iceberg(spark, path, "grp = 'g1' and id < 300")
    n1 = read_iceberg(spark, path).count()
    assert n1 == 900 - df.filter("grp = 'g1' and id < 300").count()
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([("g2",)], ["grp"])
    )
    back = read_iceberg(spark, path)
    assert back.filter("grp = 'g2'").count() == 0
    assert back.count() == n1 - 300
    # partition pruning still works on the survivors
    pruned = read_iceberg(spark, path, eq={"grp": "g0"})
    assert pruned.filter("grp != 'g0'").count() == 0


def test_iceberg_remove_orphan_files(spark):
    """Unreferenced data files older than the safety window are
    removed; referenced files and fresh debris survive."""
    import os as _os
    import time as _time

    from python_plugins_spark.sources.iceberg_py import (
        read_iceberg,
        remove_orphan_files,
        write_iceberg,
    )

    path = _fresh("ice_orph1")
    write_iceberg(spark.range(100).selectExpr("id"), path, "overwrite")

    # plant an old orphan and a fresh one
    old_orphan = _os.path.join(path, "data", "orphan-old.parquet")
    new_orphan = _os.path.join(path, "data", "orphan-new.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "wb") as fh:
            fh.write(b"junk")
    _os.utime(old_orphan, (_time.time() - 100 * 3600,) * 2)

    assert remove_orphan_files(path, dry_run=True) == ["data/orphan-old.parquet"]
    deleted = remove_orphan_files(path)
    assert deleted == ["data/orphan-old.parquet"]
    assert _os.path.exists(new_orphan)
    assert read_iceberg(spark, path).count() == 100


def test_iceberg_zorder_rewrite_enables_range_pruning(spark):
    """A z-ordered rewrite clusters the 2-D space so manifest bounds
    prune most files for a selective box; the pruned read stays
    exact."""
    from python_plugins_spark.sources.iceberg_py import (
        plan_files,
        read_iceberg,
        rewrite_data_files,
        write_iceberg,
    )

    path = _fresh("ice_z1")
    df = spark.range(0, 20000).selectExpr(
        "id", "cast(hash(id) % 1000 as long) as x",
        "cast(hash(id + 7) % 1000 as long) as y",
    )
    write_iceberg(df.repartition(8), path, mode="overwrite")
    res = rewrite_data_files(spark, path, target_parts=8, zorder_by=["x", "y"])
    assert res["files_after"] >= 4
    box = {"x": (0, 100), "y": (0, 100)}
    pruned = plan_files(path, ranges=box)
    assert 0 < len(pruned) < res["files_after"], "z-order pruning failed"
    got = (
        read_iceberg(spark, path, ranges=box)
        .filter("x between 0 and 100 and y between 0 and 100")
        .count()
    )
    want = df.filter("x between 0 and 100 and y between 0 and 100").count()
    assert got == want


def test_iceberg_one_commit_upsert(spark):
    """upsert_iceberg commits equality deletes + new data in ONE
    snapshot: matched keys take the source values, unmatched insert,
    untouched rows survive, and time travel sees the pre-upsert
    state."""
    from python_plugins_spark.sources.iceberg_py import (
        read_iceberg,
        table_snapshots,
        upsert_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_ups1")
    df = spark.range(0, 100).selectExpr("id", "cast(id as double) as v")
    write_iceberg(df.repartition(2), path, mode="overwrite")   # snap 1
    src = spark.range(90, 110).selectExpr("id", "cast(-1.0 as double) as v")
    s = upsert_iceberg(spark, path, src, on=["id"])
    assert s == 2 and len(table_snapshots(path)) == 2

    back = read_iceberg(spark, path)
    assert back.count() == 110
    assert back.filter("id >= 90 and v != -1.0").count() == 0
    assert back.filter("id < 90 and v != id").count() == 0
    assert read_iceberg(spark, path, snapshot_id=1).count() == 100

    # second upsert over the first (keys overlap): latest wins
    upsert_iceberg(
        spark, path,
        spark.range(95, 100).selectExpr("id", "cast(7.0 as double) as v"),
        on=["id"],
    )
    b2 = read_iceberg(spark, path)
    assert b2.count() == 110
    assert {r.v for r in b2.filter("id between 95 and 99").collect()} == {7.0}


def test_iceberg_partitioned_upsert_cross_partition_moves(spark):
    """Partitioned upsert (r5 verdict gap): the equality delete is
    GLOBAL, so a key that MOVES partitions is erased from its old
    partition and lands in the new one; new data files carry partition
    tuples so pruning keeps working. Covers identity and bucket
    (hidden-transform) specs."""
    from python_plugins_spark.sources.iceberg_py import (
        plan_files,
        read_iceberg,
        upsert_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_ups_part")
    df = spark.range(0, 100).selectExpr(
        "id", "cast(id % 4 as int) as grp", "cast(id as double) as v"
    )
    write_iceberg(df.repartition(2), path, mode="overwrite", partition_by="grp")
    # ids 90-99 MOVE to partition grp=9 with new values; 100-109 insert
    src = spark.range(90, 110).selectExpr(
        "id", "cast(9 as int) as grp", "cast(-1.0 as double) as v"
    )
    upsert_iceberg(spark, path, src, on=["id"])
    back = read_iceberg(spark, path)
    assert back.count() == 110
    # the moved keys exist ONLY in the new partition with source values
    assert back.filter("id >= 90 and (grp != 9 or v != -1.0)").count() == 0
    assert back.filter("id < 90 and v != id").count() == 0
    # manifest-level pruning sees the upserted files' partition tuples
    files = plan_files(path, eq={"grp": 9})
    assert files and all(f["partition"].get("grp") == "9" for f in files)
    files0 = plan_files(path, eq={"grp": 0})
    assert files0 and all(f["partition"].get("grp") == "0" for f in files0)

    # hidden partitioning (bucket transform): same contract
    path2 = _fresh("ice_ups_bucket")
    write_iceberg(
        df, path2, mode="overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    upsert_iceberg(spark, path2, src, on=["id"])
    b2 = read_iceberg(spark, path2)
    assert b2.count() == 110
    assert b2.filter("id >= 90 and v != -1.0").count() == 0


def test_iceberg_schema_evolution_append(spark):
    """merge_schema append adds columns with FRESH field ids (existing
    ids stable, per spec); old files read the new column as null;
    mismatches without the flag raise; equality deletes keyed on an
    evolved column use its new field id."""
    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        _current_schema_node,
        _load_metadata,
        equality_delete_iceberg,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_evo1")
    write_iceberg(spark.range(10).selectExpr("id", "id * 2 as v"), path, "overwrite")
    bad = spark.range(10, 13).selectExpr("id", "id * 2 as v", "'x' as tag")
    with pytest.raises(ValueError, match="merge_schema"):
        write_iceberg(bad, path, "append")

    write_iceberg(bad, path, "append", merge_schema=True)
    node = _current_schema_node(_load_metadata(path))
    ids = {f["name"]: f["id"] for f in node["fields"]}
    assert ids["id"] == 1 and ids["v"] == 2 and ids["tag"] == 3
    back = read_iceberg(spark, path)
    assert back.columns == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in back.collect()}
    assert rows[11] == "x" and rows[0] is None

    # equality delete on the EVOLVED column: old (null-tag) rows are
    # untouched, matching new rows go
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([("x",)], ["tag"])
    )
    b2 = read_iceberg(spark, path)
    assert b2.count() == 10 and b2.filter("tag = 'x'").count() == 0


# ------------------------------------------------ optimistic concurrency

def test_iceberg_concurrent_appends_all_commit(spark):
    """8 threads append to the same table concurrently; OCC must let
    every writer land (losers rebase), with no lost updates and a
    linear snapshot history."""
    from concurrent.futures import ThreadPoolExecutor

    from python_plugins_spark.sources.iceberg_py import (
        current_metadata_version, read_iceberg, table_snapshots, write_iceberg,
    )

    path = _fresh("ice_occ_append")
    write_iceberg(
        spark.range(0).select(F.col("id"), F.lit(0).alias("w")), path, "overwrite"
    )

    def appender(w):
        df = spark.range(w * 100, w * 100 + 10).select(
            F.col("id"), F.lit(w).alias("w")
        )
        return write_iceberg(df, path, "append")

    with ThreadPoolExecutor(max_workers=8) as ex:
        snaps = list(ex.map(appender, range(8)))
    assert sorted(snaps) == list(range(2, 10))  # 8 distinct versions, no gap
    assert current_metadata_version(path) == 9
    got = read_iceberg(spark, path).select("id").collect()
    want = {w * 100 + i for w in range(8) for i in range(10)}
    assert {r.id for r in got} == want  # every writer's rows survived
    assert len(table_snapshots(path)) == 9


def test_iceberg_stale_delete_commit_aborts(spark):
    """A delete planned against snapshot N must abort (not silently
    publish) if another writer committed N+1 first: the deleted row
    positions may no longer be valid."""
    import json as _json

    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        IcebergConcurrentWriteError, _commit_delete_snapshot, _load_metadata,
        current_metadata_version, write_iceberg,
    )

    path = _fresh("ice_occ_delete")
    write_iceberg(spark.range(20).select(F.col("id")), path, "overwrite")
    stale_meta = _load_metadata(path)
    stale_target = (current_metadata_version(path) or 0) + 1
    # competitor commits first
    write_iceberg(spark.range(20, 25).select(F.col("id")), path, "append")
    with pytest.raises(IcebergConcurrentWriteError):
        _commit_delete_snapshot(
            path, stale_meta, stale_target, 0, [], {"added-position-deletes": "0"}
        )


def test_iceberg_rewrite_cas_aborts_on_concurrent_append(spark):
    """Compaction materializes the base snapshot, so a concurrent
    append must abort the rewrite's overwrite commit instead of being
    silently dropped by a rebase."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_occ_rewrite")
    I.write_iceberg(spark.range(10).select(F.col("id")), path, "overwrite")
    I.write_iceberg(spark.range(10, 20).select(F.col("id")), path, "append")

    orig = I.write_iceberg

    def racing_write(df, p, mode="append", **kw):
        # inject a competitor append between the rewrite's base read
        # and its CAS overwrite commit
        if kw.get("expected_version") is not None:
            orig(
                spark.range(100, 105).select(F.col("id")), p, "append"
            )
        return orig(df, p, mode, **kw)

    I.write_iceberg = racing_write
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.rewrite_data_files(spark, path, target_parts=1)
    finally:
        I.write_iceberg = orig
    # competitor's rows are intact, rewrite left no new snapshot rows
    ids = {r.id for r in I.read_iceberg(spark, path).collect()}
    assert ids == set(range(20)) | {100, 101, 102, 103, 104}


def test_iceberg_version_scan_beats_stale_hint(spark):
    """v*.metadata.json files are authoritative; a stale (lower)
    version hint must not roll the table back."""
    from python_plugins_spark.sources.iceberg_py import (
        current_metadata_version, read_iceberg, write_iceberg,
    )

    path = _fresh("ice_occ_hint")
    write_iceberg(spark.range(5).select(F.col("id")), path, "overwrite")
    write_iceberg(spark.range(5, 9).select(F.col("id")), path, "append")
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")  # simulate a laggard writer's out-of-order hint
    assert current_metadata_version(path) == 2
    assert read_iceberg(spark, path).count() == 9


# ------------------------------------------------ format conversion

def test_convert_iceberg_to_delta_partitioned(spark):
    from python_plugins_spark.sources.convert import convert_iceberg_to_delta
    from python_plugins_spark.sources.delta_py import read_delta
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    ice, dlt = _fresh("cv_ice_p"), _fresh("cv_dlt_p")
    df = spark.range(60).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2.0).alias("x")
    )
    write_iceberg(df, ice, "overwrite", partition_by="g")
    convert_iceberg_to_delta(ice, dlt)
    back = read_delta(spark, dlt)
    assert back.count() == 60
    assert {r.g: r.n for r in back.groupBy("g").agg(F.count("*").alias("n")).collect()} \
        == {0: 20, 1: 20, 2: 20}
    # conversion is zero-copy: delta files are hard links (same inode)
    import os as _os
    ice_files = {
        _os.stat(_os.path.join(dp, f)).st_ino
        for dp, _, fs in _os.walk(_os.path.join(ice, "data"))
        for f in fs if f.endswith(".parquet")
    }
    dlt_files = {
        _os.stat(_os.path.join(dp, f)).st_ino
        for dp, _, fs in _os.walk(dlt)
        for f in fs if f.endswith(".parquet") and "_delta_log" not in dp
    }
    assert dlt_files and dlt_files <= ice_files


def test_convert_refuses_pending_deletes(spark):
    import pytest

    from python_plugins_spark.sources.convert import (
        convert_delta_to_iceberg, convert_iceberg_to_delta,
    )
    from python_plugins_spark.sources.delta_py import delete_delta, write_delta
    from python_plugins_spark.sources.iceberg_py import delete_iceberg, write_iceberg

    ice = _fresh("cv_ref_ice")
    write_iceberg(spark.range(30).select(F.col("id")), ice, "overwrite")
    delete_iceberg(spark, ice, "id < 5")
    with pytest.raises(ValueError, match="delete file"):
        convert_iceberg_to_delta(ice, _fresh("cv_ref_dlt"))

    dlt = _fresh("cv_ref_dlt_src")
    write_delta(spark.range(30).select(F.col("id")), dlt, "overwrite")
    delete_delta(spark, dlt, "id < 5")  # deletion-vector path
    with pytest.raises(ValueError, match="deletion vector"):
        convert_delta_to_iceberg(dlt, _fresh("cv_ref_ice_dst"))


def test_convert_refuses_existing_target(spark):
    import pytest

    from python_plugins_spark.sources.convert import convert_iceberg_to_delta
    from python_plugins_spark.sources.delta_py import (
        DeltaConcurrentWriteError, write_delta,
    )
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    ice, dlt = _fresh("cv_ex_ice"), _fresh("cv_ex_dlt")
    write_iceberg(spark.range(10).select(F.col("id")), ice, "overwrite")
    write_delta(spark.range(5).select(F.col("id")), dlt, "overwrite")
    with pytest.raises(DeltaConcurrentWriteError):
        convert_iceberg_to_delta(ice, dlt)


# -------------------------------------- review fixes (round-3 session)

def test_iceberg_delete_detects_commit_during_scan(spark):
    """A commit landing between the delete's metadata load and its
    publish must make the delete fail, not silently erase the
    concurrent commit (the snapshot id is pinned to the PLANNED base,
    so put-if-absent collides)."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_del_race")
    I.write_iceberg(spark.range(20).select(F.col("id")), path, "overwrite")

    orig_read = I.read_iceberg
    raced = {"done": False}

    def racing_read(spark_, p, **kw):
        out = orig_read(spark_, p, **kw)
        if not raced["done"]:
            raced["done"] = True
            I.write_iceberg(spark.range(20, 25).select(F.col("id")), p, "append")
        return out

    I.read_iceberg = racing_read
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.delete_iceberg(spark, path, "id < 5")
    finally:
        I.read_iceberg = orig_read
    # the racer's rows survived, nothing was deleted
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(25))


def test_iceberg_expire_detects_commit_during_walk(spark):
    """expire_snapshots publishes at planned-base+1, so a commit during
    the reachability walk is a detected conflict, not a lost update."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_exp_race")
    I.write_iceberg(spark.range(5).select(F.col("id")), path, "overwrite")
    I.write_iceberg(spark.range(5, 10).select(F.col("id")), path, "append")
    I.write_iceberg(spark.range(10, 15).select(F.col("id")), path, "append")
    # inject a competitor append DURING the reachability walk (first
    # manifest read), after expire has loaded its base metadata
    orig = I.read_container
    raced = {"done": False}

    def racing_read(p_, *a, **k):
        if not raced["done"]:
            raced["done"] = True
            I.write_iceberg(
                spark.range(15, 20).select(F.col("id")), path, "append"
            )
        return orig(p_, *a, **k)

    I.read_container = racing_read
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.expire_snapshots(path, keep_last=1)
    finally:
        I.read_container = orig
    # the racer's rows survived and nothing was physically deleted
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(20))


def test_iceberg_merge_schema_with_decimal_column(spark):
    """merge_schema evolution must tolerate existing decimal columns
    and accept new decimal columns (the type map special-case)."""
    from pyspark.sql import functions as F

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_dec_evolve")
    df = spark.range(5).select(
        F.col("id"), F.expr("CAST(id AS DECIMAL(10,2))").alias("d")
    )
    I.write_iceberg(df, path, "overwrite")
    # append adding a NEW decimal column; existing decimal must not
    # be flagged as a type change
    df2 = spark.range(5, 8).select(
        F.col("id"),
        F.expr("CAST(id AS DECIMAL(10,2))").alias("d"),
        F.expr("CAST(id * 2 AS DECIMAL(6,1))").alias("d2"),
    )
    I.write_iceberg(df2, path, "append", merge_schema=True)
    back = I.read_iceberg(spark, path)
    assert back.count() == 8
    assert dict(back.dtypes)["d2"] == "decimal(6,1)"


def test_iceberg_type_promotion(spark):
    """Spec 'Schema Evolution' primitive promotions (round 6):
    int->long, float->double, decimal precision up evolve the schema
    IN PLACE (same field id) under merge_schema; old int32/float32
    files widen on read (Spark's vectorized reader does this
    natively). Narrower incoming data upcasts to the table type with
    no schema change (SQL store-assignment, no flag needed); invalid
    changes refuse; time travel reads old snapshots under the
    pre-promotion schema."""
    import pytest
    from pyspark.sql import functions as F

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_promote")
    narrow = spark.range(5).selectExpr(
        "cast(id as int) AS a", "cast(id as float) AS b",
        "cast(id as decimal(10,2)) AS d",
    )
    I.write_iceberg(narrow, path, "overwrite")  # snapshot 1
    old_ids = {f["name"]: f["id"] for f in
               I._current_schema_node(I._load_metadata(path))["fields"]}

    wide = spark.range(5, 8).selectExpr(
        "cast(id as long) AS a", "cast(id as double) AS b",
        "cast(id as decimal(16,2)) AS d",
    )
    # promotion without merge_schema refuses
    with pytest.raises(ValueError, match="merge_schema"):
        I.write_iceberg(wide, path, "append")
    I.write_iceberg(wide, path, "append", merge_schema=True)
    back = I.read_iceberg(spark, path)
    assert dict(back.dtypes) == {
        "a": "bigint", "b": "double", "d": "decimal(16,2)"
    }
    assert back.count() == 8
    assert {r.a for r in back.collect()} == set(range(8))
    # field ids survived the promotion
    new_ids = {f["name"]: f["id"] for f in
               I._current_schema_node(I._load_metadata(path))["fields"]}
    assert new_ids == old_ids
    # time travel: snapshot 1 still reads under the narrow schema
    assert dict(I.read_iceberg(spark, path, snapshot_id=1).dtypes)["a"] == "int"

    # narrower incoming upcasts silently — no schema change, no flag
    I.write_iceberg(narrow.selectExpr(
        "cast(a + 100 as int) AS a", "cast(b as float) AS b", "d"
    ), path, "append")
    back2 = I.read_iceberg(spark, path)
    assert back2.count() == 13 and dict(back2.dtypes)["a"] == "bigint"
    assert back2.filter("a >= 100").count() == 5

    # an invalid change (string into long) refuses
    with pytest.raises(ValueError, match="not a valid promotion"):
        I.write_iceberg(
            spark.range(3).selectExpr(
                "cast(id as string) AS a", "cast(id as double) AS b",
                "cast(id as decimal(16,2)) AS d"
            ),
            path, "append", merge_schema=True,
        )


def test_iceberg_delete_abort_cleans_staged_files(spark):
    """A delete commit that loses the put-if-absent race must remove
    everything it staged (delete parquet files, manifest, manifest
    list) — not leave orphans until remove_orphan_files."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_del_orphans")
    I.write_iceberg(spark.range(20).select(F.col("id")), path, "overwrite")

    def snapshot_files():
        out = set()
        for root, _d, files in os.walk(path):
            for f in files:
                out.add(os.path.join(root, f))
        return out

    before = snapshot_files()

    real_put = I._put_if_absent
    state = {"stolen": False}

    def racing_put(content, dst):
        if not state["stolen"]:
            state["stolen"] = True
            I.write_iceberg(
                spark.range(20, 25).select(F.col("id")), path, "append"
            )
        return real_put(content, dst)

    I._put_if_absent = racing_put
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.equality_delete_iceberg(
                spark, path, spark.createDataFrame([(3,)], "id bigint")
            )
    finally:
        I._put_if_absent = real_put

    after = snapshot_files()
    leaked = {
        f for f in after - before
        if "eq-deletes" in f or f.endswith(".avro")
    }
    # the racer's own commit files are fine; nothing from the aborted
    # delete (its delete parquet, manifest, or manifest list) remains
    aborted = {f for f in leaked if "eq-deletes" in f}
    assert aborted == set()
    # racer's append added exactly one manifest + one manifest list
    racer_avro = {f for f in after - before if f.endswith(".avro")}
    assert len(racer_avro) == 2
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(25))


def test_iceberg_rewrite_manifests_compacts_with_pruning_intact(spark):
    """Many-commit table reads through ONE compacted manifest; bounds
    carried forward keep plan_files pruning selective."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_rw_manifests")
    for i in range(8):
        I.write_iceberg(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id")),
            path, "overwrite" if i == 0 else "append",
        )
    assert len(I.plan_files(path)) >= 8
    stats = I.rewrite_manifests(path)
    assert stats["manifests_before"] >= 8 and stats["manifests_after"] == 1
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(80))
    # bounds pruning must survive: id=5 lives in exactly one commit's file
    pruned = I.plan_files(path, ranges={"id": (5, 5)})
    assert len(pruned) == 1
    # idempotent: second rewrite is a no-op (already one manifest)
    stats2 = I.rewrite_manifests(path)
    assert stats2["manifests_after"] == stats2["manifests_before"] == 1
    # prior snapshots stay readable (time travel before the compaction)
    old = I.read_iceberg(spark, path, snapshot_id=3)
    assert old.count() == 30


def test_iceberg_rewrite_manifests_preserves_delete_scoping(spark):
    """Equality-delete scoping (delete applies only to EARLIER data
    files) must be identical before and after manifest compaction —
    the per-entry added_snapshot_id mechanism."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_rw_scope")
    I.write_iceberg(spark.range(10).selectExpr("id", "id % 3 AS g"), path, "overwrite")
    I.equality_delete_iceberg(spark, path, spark.createDataFrame([(2,)], "id bigint"))
    # re-insert id=2 AFTER the delete: it must survive
    I.write_iceberg(
        spark.createDataFrame([(2, 99)], "id bigint, g bigint"), path, "append"
    )
    before = sorted((r.id, r.g) for r in I.read_iceberg(spark, path).collect())
    assert (2, 99) in before and (2, 2) not in before

    stats = I.rewrite_manifests(path)
    assert stats["manifests_after"] == 2  # data + delete manifests
    after = sorted((r.id, r.g) for r in I.read_iceberg(spark, path).collect())
    assert after == before
    # the delete file's scope is its ORIGINAL snapshot, not the rewrite's
    dels = I.plan_delete_files(path)
    assert len(dels) == 1 and dels[0]["snapshot_id"] == 2
    # per-file data scopes also preserved
    scopes = {f["snapshot_id"] for f in I.plan_files(path)}
    assert scopes == {1, 3}


def test_iceberg_rewrite_manifests_then_stream_and_cdc(spark, tmp_path):
    """The compaction snapshot adds no rows: append-mode streams and
    the CDC reader skip it instead of raising, and later appends still
    flow."""
    from python_plugins_spark.sources import iceberg_stream
    import python_plugins_spark.sources.iceberg_py as I

    iceberg_stream.register(spark)
    table = str(tmp_path / "ice_rw_stream")
    I.write_iceberg(spark.range(10).select(F.col("id")), table, "overwrite")
    I.write_iceberg(spark.range(10, 20).select(F.col("id")), table, "append")
    I.rewrite_manifests(table)
    I.write_iceberg(spark.range(20, 30).select(F.col("id")), table, "append")

    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName("rw_stream_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r.id for r in spark.table("rw_stream_sink").collect()} == set(range(30))

    cdc = I.table_changes_iceberg(spark, table, 1)
    ins = {r.id for r in cdc.filter("_change_type = 'insert'").collect()}
    assert ins == set(range(30))


def test_iceberg_v1_table_upgrade_unlocks_deletes(spark):
    """format_version=1 tables refuse row-level deletes (a v2 feature);
    upgrade_format_version is a metadata-only commit that unlocks them.
    Appends never silently upgrade the format."""
    import json as _json

    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_v1")
    I.write_iceberg(
        spark.range(10).select(F.col("id")), path, "overwrite", format_version=1
    )
    I.write_iceberg(spark.range(10, 15).select(F.col("id")), path, "append")
    meta = I._load_metadata(path)
    assert meta["format-version"] == 1  # append preserved v1

    with pytest.raises(ValueError, match="format-version 2"):
        I.delete_iceberg(spark, path, "id < 3")
    with pytest.raises(ValueError, match="format-version 2"):
        I.equality_delete_iceberg(
            spark, path, spark.createDataFrame([(1,)], "id bigint")
        )

    v = I.upgrade_format_version(path)
    assert I._load_metadata(path)["format-version"] == 2
    # metadata-only: same snapshot, no new files
    assert I._load_metadata(path)["current-snapshot-id"] == 2
    assert I.upgrade_format_version(path) == v  # idempotent

    I.delete_iceberg(spark, path, "id < 3")
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(3, 15))


def test_iceberg_bucket_partition_transform(spark):
    """Hidden partitioning, bucket[N]: layout + manifests key on the
    derived bucket, the source column stays in the data files, and an
    equality predicate on the SOURCE column prunes the manifest walk
    to one bucket's files."""
    import zlib

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_bucket")
    df = spark.range(200).selectExpr("id", "id * 2 AS v")
    I.write_iceberg(
        df, path, "overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    back = I.read_iceberg(spark, path)
    assert sorted(r.id for r in back.collect()) == list(range(200))
    assert set(back.columns) == {"id", "v"}  # source col present, no id_bucket

    all_files = I.plan_files(path)
    pruned = I.plan_files(path, eq={"id": 7})
    want_bucket = str(zlib.crc32(b"7") % 4)
    assert 0 < len(pruned) < len(all_files)
    assert all(f["partition"]["id_bucket"] == want_bucket for f in pruned)
    got = I.read_iceberg(spark, path, eq={"id": 7}).filter("id = 7").collect()
    assert [(r.id, r.v) for r in got] == [(7, 14)]

    # append with no spec adopts the committed transform
    I.write_iceberg(spark.range(200, 210).selectExpr("id", "id * 2 AS v"),
                    path, "append")
    assert I.read_iceberg(spark, path).count() == 210
    # mismatched spec is refused
    import pytest

    with pytest.raises(ValueError, match="partitioned by"):
        I.write_iceberg(df, path, "append", partition_by="id")


def test_iceberg_truncate_and_day_transforms(spark):
    import python_plugins_spark.sources.iceberg_py as I

    # truncate[50] on a long: files bucket by 50-multiples
    path = _fresh("ice_trunc")
    I.write_iceberg(
        spark.range(100).selectExpr("id", "id AS v"), path, "overwrite",
        partition_by={"transform": "truncate", "source": "id", "width": 50},
    )
    pruned = I.plan_files(path, eq={"id": 63})
    assert pruned and all(f["partition"]["id_trunc"] == "50" for f in pruned)
    assert I.read_iceberg(spark, path).count() == 100

    # day on a timestamp
    path2 = _fresh("ice_day")
    df = spark.sql(
        "SELECT id, timestamp'2024-03-01 00:30:00' + make_interval(0,0,0,0,cast(id AS int),0,0) AS ts "
        "FROM range(60)"
    )
    I.write_iceberg(
        df, path2, "overwrite",
        partition_by={"transform": "day", "source": "ts"},
    )
    from datetime import datetime

    pruned = I.plan_files(path2, eq={"ts": datetime(2024, 3, 2, 5, 0, 0)})
    assert pruned and all(
        f["partition"]["ts_day"] == "2024-03-02" for f in pruned
    )
    assert len(pruned) < len(I.plan_files(path2))
    back = I.read_iceberg(spark, path2)
    assert back.count() == 60 and dict(back.dtypes)["ts"] == "timestamp"


def test_iceberg_rewrite_preserves_transform_spec(spark):
    """Compaction re-commits under the SAME hidden-partitioning spec."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_rw_transform")
    I.write_iceberg(
        spark.range(100).selectExpr("id", "id AS v"), path, "overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    I.write_iceberg(
        spark.range(100, 150).selectExpr("id", "id AS v"), path, "append",
    )
    I.rewrite_data_files(spark, path, target_parts=2)
    meta = I._load_metadata(path)
    f = meta["partition-specs"][0]["fields"][0]
    assert (f["name"], f["transform"]) == ("id_bucket", "bucket[4]")
    assert I.read_iceberg(spark, path).count() == 150
    # pruning still works after the rewrite
    assert 0 < len(I.plan_files(path, eq={"id": 7})) < len(I.plan_files(path))


def test_iceberg_multi_field_partition_spec(spark):
    """Composed partition spec — identity(g) + bucket[4](id): nested
    hive layout, both fields in the manifests, pruning composes on
    both predicates, identity value reattaches on read while the
    bucket source stays in the files."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_multi_part")
    df = spark.range(120).selectExpr("id", "id % 3 AS g", "id * 2 AS v")
    I.write_iceberg(
        df, path, "overwrite",
        partition_by=["g", {"transform": "bucket", "source": "id", "n": 4}],
    )
    meta = I._load_metadata(path)
    fields = meta["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("g", "identity"), ("id_bucket", "bucket[4]"),
    ]
    back = I.read_iceberg(spark, path)
    assert set(back.columns) == {"id", "g", "v"}
    assert sorted((r.id, r.g, r.v) for r in back.collect()) == [
        (i, i % 3, i * 2) for i in range(120)
    ]
    # pruning composes: g narrows to one identity partition, id to one
    # bucket within it
    all_f = I.plan_files(path)
    g_only = I.plan_files(path, eq={"g": 1})
    both = I.plan_files(path, eq={"g": 1, "id": 7})
    assert len(both) < len(g_only) < len(all_f)
    assert all(f["partition"]["g"] == "1" for f in both)
    got = (
        I.read_iceberg(spark, path, eq={"g": 1, "id": 7})
        .filter("id = 7").collect()
    )
    assert [(r.id, r.g, r.v) for r in got] == [(7, 1, 14)]

    # append adopts the composed spec; compaction preserves it
    I.write_iceberg(
        spark.range(120, 140).selectExpr("id", "id % 3 AS g", "id * 2 AS v"),
        path, "append",
    )
    I.rewrite_data_files(spark, path, target_parts=2)
    meta = I._load_metadata(path)
    assert [(f["name"], f["transform"]) for f in
            meta["partition-specs"][0]["fields"]] == [
        ("g", "identity"), ("id_bucket", "bucket[4]"),
    ]
    assert I.read_iceberg(spark, path).count() == 140


def test_iceberg_partition_spec_evolution(spark):
    """Partition-spec evolution: a new default spec applies to FUTURE
    writes only; files keep the spec they were written with, reads
    union the layouts, pruning resolves per manifest's spec, deletes
    work across mixed layouts, compaction groups manifests per spec,
    and rewrite_data_files migrates everything to the current spec."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_spec_evo")
    # spec 0: unpartitioned
    I.write_iceberg(
        spark.range(40).selectExpr("id", "id % 4 AS g"), path, "overwrite"
    )
    # spec 1: identity(g) — metadata-only
    I.evolve_partition_spec(path, "g")
    I.write_iceberg(
        spark.range(40, 80).selectExpr("id", "id % 4 AS g"), path, "append"
    )
    meta = I._load_metadata(path)
    assert meta["default-spec-id"] == 1
    assert len(meta["partition-specs"]) == 2

    back = I.read_iceberg(spark, path)
    assert sorted((r.id, r.g) for r in back.collect()) == [
        (i, i % 4) for i in range(80)
    ]
    # per-spec pruning: spec-1 files prune on the partition VALUE,
    # spec-0 files on their logged column bounds
    files = I.plan_files(path)
    spec_ids = {f["spec_id"] for f in files}
    assert spec_ids == {0, 1}
    pruned = I.plan_files(path, eq={"g": 1})
    assert len(pruned) < len(files)
    assert all(
        f["partition"].get("g") == "1" for f in pruned if f["spec_id"] == 1
    )

    # row-level delete across MIXED layouts (per-group _metadata capture)
    I.delete_iceberg(spark, path, "id IN (3, 43)")
    got = {r.id for r in I.read_iceberg(spark, path).collect()}
    assert got == set(range(80)) - {3, 43}

    # compaction groups the merged manifests per spec
    stats = I.rewrite_manifests(path)
    assert stats["manifests_after"] >= 3  # spec0-data, spec1-data, deletes
    got2 = {r.id for r in I.read_iceberg(spark, path).collect()}
    assert got2 == got

    # evolve again (bucket) and MIGRATE via rewrite: everything lands
    # under the newest spec, deletes applied
    I.evolve_partition_spec(
        path, {"transform": "bucket", "source": "id", "n": 4}
    )
    I.rewrite_data_files(spark, path, target_parts=2)
    files3 = I.plan_files(path)
    assert {f["spec_id"] for f in files3} == {2}
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == got


def test_iceberg_metadata_commits_cas_on_race(spark):
    """upgrade_format_version and evolve_partition_spec are put-if-
    absent commits: a racing writer claiming the version makes them
    abort loudly, never silently clobber."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_meta_race")
    I.write_iceberg(
        spark.range(10).select(F.col("id")), path, "overwrite",
        format_version=1,
    )

    real_put = I._put_if_absent
    state = {"stolen": False}

    def racing_put(content, dst):
        if not state["stolen"]:
            state["stolen"] = True
            I.write_iceberg(
                spark.range(10, 12).select(F.col("id")), path, "append"
            )
        return real_put(content, dst)

    I._put_if_absent = racing_put
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.upgrade_format_version(path)
    finally:
        I._put_if_absent = real_put
    assert I._load_metadata(path)["format-version"] == 1  # nothing clobbered
    I.upgrade_format_version(path)  # clean re-run succeeds
    assert I._load_metadata(path)["format-version"] == 2

    state["stolen"] = False
    I._put_if_absent = racing_put
    try:
        with pytest.raises(I.IcebergConcurrentWriteError):
            I.evolve_partition_spec(path, "id")
    finally:
        I._put_if_absent = real_put
    assert I._load_metadata(path)["default-spec-id"] == 0
    I.evolve_partition_spec(path, "id")
    assert I._load_metadata(path)["default-spec-id"] == 1
    assert {r.id for r in I.read_iceberg(spark, path).collect()} == set(range(12))


def test_iceberg_cdc_identity_partition_values(spark):
    """Derived CDC over an identity-partitioned table reattaches the
    partition column (data files omit it) on insert, position-delete
    and equality-delete rows alike, as read_iceberg does."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_cdc_identity")
    I.write_iceberg(
        spark.range(12).selectExpr("id", "concat('g', id % 2) AS g"),
        path, "overwrite", partition_by="g",
    )
    I.delete_iceberg(spark, path, "id < 2")
    I.equality_delete_iceberg(
        spark, path, spark.createDataFrame([("g1",)], "g string")
    )
    assert {(r.id, r.g) for r in I.read_iceberg(spark, path).collect()} == {
        (i, "g0") for i in range(2, 12, 2)
    }
    cdc = I.table_changes_iceberg(spark, path, 1).collect()
    assert {(r.id, r.g) for r in cdc if r._change_type == "insert"} == {
        (i, f"g{i % 2}") for i in range(12)
    }
    assert sorted(
        (r.id, r.g, r._commit_snapshot) for r in cdc if r._change_type == "delete"
    ) == sorted(
        [(0, "g0", 2), (1, "g1", 2)] + [(i, "g1", 3) for i in range(1, 12, 2)]
    )


def test_iceberg_cdc_on_transform_partitioned_table(spark):
    """Derived CDC over a bucket-partitioned table: inserts and
    equality deletes replay correctly (transform partition keys are
    layout-only; the source column lives in the data files)."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_cdc_bucket")
    I.write_iceberg(
        spark.range(12).selectExpr("id", "id % 3 AS g"), path, "overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    I.equality_delete_iceberg(
        spark, path, spark.createDataFrame([(5,)], "id bigint")
    )
    cdc = I.table_changes_iceberg(spark, path, 1)
    ins = {(r.id, r.g) for r in cdc.filter("_change_type = 'insert'").collect()}
    assert ins == {(i, i % 3) for i in range(12)}
    dels = {(r.id, r.g) for r in cdc.filter("_change_type = 'delete'").collect()}
    assert dels == {(5, 2)}


def test_iceberg_time_transforms_year_month_hour(spark):
    """The remaining spec time transforms: year/month/hour layouts all
    prune on plain timestamp predicates."""
    from datetime import datetime

    import python_plugins_spark.sources.iceberg_py as I

    df = spark.sql(
        "SELECT id, timestamp'2024-01-15 00:00:00' + "
        "make_interval(0, 0, 0, cast(id * 3 AS int), cast(id AS int), 0, 0) AS ts "
        "FROM range(60)"
    )
    probe = datetime(2024, 3, 10, 5, 0, 0)
    for kind, pname, want in (
        ("year", "ts_year", "2024"),
        ("month", "ts_month", "2024-03"),
        ("hour", "ts_hour", None),  # probe not exactly on an hour bucket row
    ):
        path = _fresh(f"ice_t_{kind}")
        I.write_iceberg(
            df, path, "overwrite",
            partition_by={"transform": kind, "source": "ts"},
        )
        assert I.read_iceberg(spark, path).count() == 60
        pruned = I.plan_files(path, eq={"ts": probe})
        allf = I.plan_files(path)
        if kind == "year":
            assert all(f["partition"][pname] == want for f in pruned)
        elif kind == "month":
            assert pruned and len(pruned) < len(allf)
            assert all(f["partition"][pname] == want for f in pruned)
        else:
            assert len(pruned) <= len(allf)


def test_iceberg_refs_tags_branches_fast_forward(spark):
    """Spec v2 refs: tags pin snapshots immutably, branches take
    writes independently of main, expire keeps ref heads alive, and
    fast-forward promotes a branch to main only when main is an
    ancestor (write-audit-publish on branches)."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_refs")
    I.write_iceberg(spark.range(10).select(F.col("id")), path, "overwrite")  # s1
    I.create_ref(path, "v1-freeze", "tag")                                   # tag s1
    I.write_iceberg(spark.range(10, 20).select(F.col("id")), path, "append")  # s3 (main)

    # tag read is pinned no matter what main does
    assert I.read_iceberg(spark, path, ref="v1-freeze").count() == 10
    assert I.read_iceberg(spark, path).count() == 20

    # branch writes move ONLY the branch head
    I.create_ref(path, "audit", "branch")  # at main head (20 rows)
    I.write_iceberg(
        spark.range(20, 25).select(F.col("id")), path, "append", branch="audit"
    )
    assert I.read_iceberg(spark, path).count() == 20          # main unmoved
    assert I.read_iceberg(spark, path, ref="audit").count() == 25
    # tags refuse writes
    with pytest.raises(ValueError, match="TAG"):
        I.write_iceberg(
            spark.range(1).select(F.col("id")), path, "append",
            branch="v1-freeze",
        )

    # expire keeps ref heads (the tag's snapshot survives keep_last=1)
    res = I.expire_snapshots(path, keep_last=1)
    assert I.read_iceberg(spark, path, ref="v1-freeze").count() == 10
    assert I.read_iceberg(spark, path, ref="audit").count() == 25

    # fast-forward main to the audited branch
    I.fast_forward_main(path, "audit")
    assert I.read_iceberg(spark, path).count() == 25

    # diverged branch cannot fast-forward: move main past the branch
    I.write_iceberg(spark.range(25, 26).select(F.col("id")), path, "append")
    with pytest.raises(ValueError, match="ancestor"):
        I.fast_forward_main(path, "audit")

    # dropping the tag re-opens expiry
    I.drop_ref(path, "v1-freeze")
    with pytest.raises(KeyError):
        I.read_iceberg(spark, path, ref="v1-freeze")


def test_convert_guards_round4_layouts(spark):
    """Format conversion refuses layouts its hard-link model cannot
    represent — hidden-partitioning/evolved iceberg specs and
    column-mapping delta tables — and now handles multi-column
    identity partitions."""
    import pytest

    import python_plugins_spark.sources.delta_py as dp
    import python_plugins_spark.sources.iceberg_py as I
    from python_plugins_spark.sources import convert as CV

    # hidden-partitioned iceberg refuses -> delta
    ice = _fresh("cv_hidden")
    I.write_iceberg(
        spark.range(20).selectExpr("id", "id % 3 AS g"), ice, "overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    with pytest.raises(ValueError, match="hidden-partitioning"):
        CV.convert_iceberg_to_delta(ice, _fresh("cv_hidden_d"))

    # evolved specs refuse
    ice2 = _fresh("cv_evolved")
    I.write_iceberg(spark.range(10).selectExpr("id", "id % 2 AS g"), ice2, "overwrite")
    I.evolve_partition_spec(ice2, "g")
    I.write_iceberg(spark.range(10, 14).selectExpr("id", "id % 2 AS g"), ice2, "append")
    with pytest.raises(ValueError, match="evolved"):
        CV.convert_iceberg_to_delta(ice2, _fresh("cv_evolved_d"))

    # column-mapped delta CONVERTS -> iceberg (round 6): the delta
    # physicalName becomes the iceberg field's write-name, so the
    # linked files' parquet columns resolve and the read surfaces the
    # LOGICAL (renamed) names
    dt = _fresh("cv_mapped")
    dp.write_delta(spark.range(10).selectExpr("id", "id * 3.0 AS v"), dt, "overwrite")
    dp.enable_column_mapping(dt)
    dp.rename_column(dt, "v", "w")
    ice_m = _fresh("cv_mapped_i")
    CV.convert_delta_to_iceberg(dt, ice_m)
    back_m = I.read_iceberg(spark, ice_m)
    assert set(back_m.columns) == {"id", "w"}
    assert sorted((r.id, r.w) for r in back_m.collect()) == [
        (i, i * 3.0) for i in range(10)
    ]
    # appends to the converted table keep writing the stable physical
    # name; a further iceberg-side rename composes
    I.write_iceberg(
        spark.range(10, 12).selectExpr("id", "id * 3.0 AS w"), ice_m, "append"
    )
    I.rename_column_iceberg(ice_m, "w", "w2")
    assert {(r.id, r.w2) for r in I.read_iceberg(spark, ice_m).collect()} == {
        (i, i * 3.0) for i in range(12)
    }

    # ...but a RENAMED PARTITION column still refuses (iceberg
    # identity layouts key on the partition column's name)
    dtp = _fresh("cv_mapped_part")
    dp.write_delta(
        spark.range(10).selectExpr("id", "id % 2 AS g"), dtp, "overwrite",
        partition_by=["g"],
    )
    dp.enable_column_mapping(dtp)
    dp.rename_column(dtp, "g", "grp")
    with pytest.raises(ValueError, match="renamed"):
        CV.convert_delta_to_iceberg(dtp, _fresh("cv_mapped_part_i"))

    # multi-column identity delta now CONVERTS
    dt2 = _fresh("cv_multi")
    dp.write_delta(
        spark.range(24).selectExpr("id", "id % 2 AS a", "id % 3 AS b"),
        dt2, "overwrite", partition_by=["a", "b"],
    )
    ice3 = _fresh("cv_multi_i")
    CV.convert_delta_to_iceberg(dt2, ice3)
    back = I.read_iceberg(spark, ice3)
    assert sorted((r.id, r.a, r.b) for r in back.collect()) == [
        (i, i % 2, i % 3) for i in range(24)
    ]
    pruned = I.plan_files(ice3, eq={"a": 1, "b": 2})
    assert 0 < len(pruned) < len(I.plan_files(ice3))


def test_iceberg_table_history(spark):
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_hist")
    I.write_iceberg(spark.range(5).select(F.col("id")), path, "overwrite")
    I.write_iceberg(spark.range(5, 8).select(F.col("id")), path, "append")
    I.create_ref(path, "b", "branch")
    I.write_iceberg(spark.range(8, 9).select(F.col("id")), path, "append", branch="b")
    I.delete_iceberg(spark, path, "id = 0")

    hist = I.table_history_iceberg(path)
    assert [h["operation"] for h in hist] == [
        "delete", "append", "append", "overwrite"
    ]
    branch_snap = [h for h in hist if not h["on_main"]]
    assert len(branch_snap) == 1 and branch_snap[0]["parent_snapshot_id"] == 2


def test_iceberg_branch_overwrite(spark):
    """mode='overwrite' on a branch replaces the BRANCH's content
    while main keeps its own snapshot."""
    import python_plugins_spark.sources.iceberg_py as I

    path = _fresh("ice_branch_ow")
    I.write_iceberg(spark.range(10).select(F.col("id")), path, "overwrite")
    I.create_ref(path, "exp", "branch")
    I.write_iceberg(
        spark.range(100, 103).select(F.col("id")), path, "overwrite",
        branch="exp",
    )
    assert {r.id for r in I.read_iceberg(spark, path, ref="exp").collect()} == {
        100, 101, 102
    }
    assert I.read_iceberg(spark, path).count() == 10  # main untouched
    hist = I.table_history_iceberg(path)
    assert hist[0]["operation"] == "overwrite" and not hist[0]["on_main"]


def test_iceberg_rename_column_metadata_only(spark):
    """Round-6: id-based column rename — a pure metadata commit. Old
    data files keep their on-disk name and resolve through the pinned
    write-name; appends after the rename keep writing the stable
    physical name; bounds pruning and equality deletes keyed on the
    renamed column work on both sides of the rename."""
    import os

    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        equality_delete_iceberg,
        plan_files,
        read_iceberg,
        rename_column_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_rencol")
    df = spark.range(100).selectExpr("id", "cast(id * 2 as double) AS score")
    write_iceberg(df.repartition(2), path, mode="overwrite")
    files_before = {
        f for f in os.listdir(os.path.join(path, "data"))
        if f.endswith(".parquet")
    }
    # eq delete BEFORE the rename, keyed on the soon-renamed column
    keys = spark.createDataFrame([(10.0,)], "score double")
    equality_delete_iceberg(spark, path, keys)

    rename_column_iceberg(path, "score", "quality")
    back = read_iceberg(spark, path)
    assert back.columns == ["id", "quality"]
    assert back.count() == 99                      # id=5 eq-deleted
    assert back.filter("quality = 10.0").count() == 0
    assert back.filter("quality = 12.0").count() == 1
    # rename + delete moved NO data files
    files_after = {
        f for f in os.listdir(os.path.join(path, "data"))
        if f.endswith(".parquet") and "-eq-deletes" not in f
    }
    assert files_after == files_before

    # append AFTER the rename: logical write schema, physical storage
    write_iceberg(
        spark.range(100, 110).selectExpr("id", "cast(id * 2 as double) AS quality"),
        path, mode="append",
    )
    back = read_iceberg(spark, path)
    assert back.count() == 109
    assert back.filter("quality = 218.0").count() == 1
    # the new file stores the ORIGINAL physical name
    import pyarrow.parquet as pq

    newest = [
        f for f in os.listdir(os.path.join(path, "data"))
        if f.endswith(".parquet") and f not in files_before
        and "-eq-deletes" not in f
    ]
    assert newest
    for f in newest:
        assert "score" in pq.ParquetFile(
            os.path.join(path, "data", f)
        ).schema_arrow.names

    # manifest bound pruning translates the renamed predicate column
    pruned = plan_files(path, ranges={"quality": (200.0, None)})
    assert 0 < len(pruned) < len(plan_files(path))

    # eq delete AFTER the rename, keyed on the NEW logical name
    equality_delete_iceberg(
        spark, path, spark.createDataFrame([(12.0,)], "quality double")
    )
    assert read_iceberg(spark, path).filter("quality = 12.0").count() == 0

    # time travel reads under the SNAPSHOT's schema (spec: snapshots
    # record their schema-id): snapshot 1 predates the rename, so its
    # view keeps the OLD column name and ALL 100 rows
    old = read_iceberg(spark, path, snapshot_id=1)
    assert old.columns == ["id", "score"]
    assert old.count() == 100

    # partition source columns refuse
    p2 = _fresh("ice_rencol_part")
    write_iceberg(
        spark.range(20).selectExpr("id", "cast(id % 2 as int) AS g"),
        p2, mode="overwrite", partition_by="g",
    )
    with pytest.raises(ValueError, match="partition source"):
        rename_column_iceberg(p2, "g", "grp")


def test_iceberg_drop_and_readd_column(spark):
    """Drop is metadata-only; re-adding the same name via merge_schema
    gets a FRESH id and physical name, so dropped values never
    resurface (old rows read null)."""
    from python_plugins_spark.sources.iceberg_py import (
        drop_column_iceberg,
        read_iceberg,
        write_iceberg,
    )

    path = _fresh("ice_dropcol")
    write_iceberg(
        spark.range(10).selectExpr("id", "cast(id as double) AS v"), path, "overwrite"
    )
    drop_column_iceberg(path, "v")
    assert read_iceberg(spark, path).columns == ["id"]

    # re-add 'v' — same name, new identity
    write_iceberg(
        spark.range(10, 13).selectExpr("id", "cast(id * 100 as double) AS v"),
        path, mode="append", merge_schema=True,
    )
    back = read_iceberg(spark, path)
    rows = {r.id: r.v for r in back.collect()}
    assert rows[11] == 1100.0
    assert all(rows[i] is None for i in range(10))  # NOT resurrected


def test_iceberg_rename_cdc_and_stream(spark):
    """CDC (batch + streaming) and the append stream resolve renamed
    columns through the stable physical name and emit CURRENT logical
    names."""
    import uuid

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg,
        read_iceberg,
        rename_column_iceberg,
        table_changes_iceberg,
        write_iceberg,
    )
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    iceberg_stream.register(spark)
    path = _fresh("ice_rencdc")
    write_iceberg(
        spark.range(20).selectExpr("id", "cast(id * 2 as double) AS score"), path, "overwrite"
    )
    rename_column_iceberg(path, "score", "quality")          # v2 (metadata)
    write_iceberg(
        spark.range(20, 30).selectExpr("id", "cast(id * 2 as double) AS quality"),
        path, mode="append",                                  # v3
    )
    delete_iceberg(spark, path, "id % 7 = 0")                 # v4 (pos del)

    cdc = table_changes_iceberg(spark, path, 1)
    assert set(cdc.columns) == {"id", "quality", "_change_type", "_commit_snapshot"}
    ins = {r.id: r.quality for r in cdc.filter("_change_type = 'insert'").collect()}
    assert ins[5] == 10.0 and ins[25] == 50.0
    dels = {r.id for r in cdc.filter("_change_type = 'delete'").collect()}
    assert dels == {i for i in range(30) if i % 7 == 0}

    # append stream after the rename (ignoreChanges skips the delete)
    name = f"ren_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", path)
        .option("ignoreChanges", "true")
        .load()
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("quality").alias("s"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = spark.table(name).collect()[0]
    assert row["n"] == 30 and row["s"] == sum(i * 2.0 for i in range(30))

    # read_iceberg agrees (minus the deleted rows)
    assert read_iceberg(spark, path).count() == 30 - 5


def test_iceberg_add_files_zero_copy_import(spark, sf_dir):
    """add_files (round 6): register existing parquet files into the
    table as ONE append metadata commit — no row rewritten (the data
    file is a hard link to the source where the fs allows). Schema
    mismatches and partitioned tables refuse; CDC and the streaming
    reader see the import as a plain append."""
    import os

    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        add_files_iceberg,
        read_iceberg,
        table_changes_iceberg,
        table_snapshots,
        write_iceberg,
    )

    src_file = f"{sf_dir}/nation.parquet"
    want = spark.read.parquet(src_file)

    path = _fresh("ice_addfiles")
    write_iceberg(want.limit(0), path, mode="overwrite")   # empty table, snap 1
    s = add_files_iceberg(path, [src_file])
    assert s == 2 and len(table_snapshots(path)) == 2
    back = read_iceberg(spark, path)
    assert back.count() == want.count()
    assert sorted(back.columns) == sorted(want.columns)
    assert {r.n_name for r in back.collect()} == {r.n_name for r in want.collect()}

    # zero-copy where possible: identical inode OR byte-identical copy
    data_files = [
        f for f in os.listdir(os.path.join(path, "data"))
        if f.endswith("-imported.parquet")
    ]
    assert len(data_files) == 1
    imported = os.path.join(path, "data", data_files[0])
    same_inode = os.stat(imported).st_ino == os.stat(src_file).st_ino
    same_bytes = (
        open(imported, "rb").read() == open(src_file, "rb").read()
    )
    assert same_inode or same_bytes

    # a second import appends again (files are re-registered freely)
    add_files_iceberg(path, [src_file])
    assert read_iceberg(spark, path).count() == 2 * want.count()

    # CDC sees both imports as inserts
    cdc = table_changes_iceberg(spark, path, 1)
    assert cdc.filter("_change_type = 'insert'").count() == 2 * want.count()

    # schema mismatch refuses
    with pytest.raises(ValueError, match="columns"):
        add_files_iceberg(path, [f"{sf_dir}/region.parquet"])


def test_iceberg_snapshot_table_fork(spark):
    """snapshot_iceberg (round 6): zero-copy fork — the Iceberg twin
    of Delta SHALLOW CLONE. The fork references the source's files
    absolutely (no parquet under the fork), reads with partition
    reattachment across MIXED roots after its own appends, takes
    row-level deletes through the multi-root scan, stays pinned to the
    source as of fork time, and expire_snapshots on the fork can never
    delete source bytes."""
    import os

    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    src = _fresh("ice_fork_src")
    dst = _fresh("ice_fork_dst")
    rows = spark.range(30).selectExpr(
        "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
    )
    I.write_iceberg(rows, src, "overwrite", partition_by="g")
    I.snapshot_iceberg(src, dst)
    assert not [
        f for _, _, fs in os.walk(os.path.join(dst, "data"))
        for f in fs if f.endswith(".parquet")
    ], "fork copied data bytes"
    fork = I.read_iceberg(spark, dst)
    assert fork.count() == 30
    assert {r.g for r in fork.select("g").distinct().collect()} == {0, 1, 2}

    # fork diverges: append (mixed roots), then a row-level delete
    # THROUGH the multi-root scan; manifest pruning still prunes
    I.write_iceberg(
        spark.range(100, 106).selectExpr(
            "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
        ),
        dst, "append",
    )
    assert I.read_iceberg(spark, dst).count() == 36
    assert I.read_iceberg(spark, dst).filter("g = 1").count() == 12
    assert len(I.plan_files(dst, eq={"g": 1})) < len(I.plan_files(dst))
    I.delete_iceberg(spark, dst, "id < 5")
    assert {r.id for r in I.read_iceberg(spark, dst).select("id").collect()} \
        == set(range(5, 30)) | set(range(100, 106))
    assert I.read_iceberg(spark, src).count() == 30  # source untouched

    # source evolution after the fork is invisible to it
    I.write_iceberg(
        spark.range(200, 205).selectExpr(
            "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
        ),
        src, "append",
    )
    assert I.read_iceberg(spark, dst).filter("id >= 200").count() == 0

    # fork overwrite + expire can never reach source bytes
    I.write_iceberg(
        spark.range(3).selectExpr(
            "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
        ),
        dst, "overwrite",
    )
    I.expire_snapshots(dst, keep_last=1)
    assert I.read_iceberg(spark, src).count() == 35  # all source files alive

    # the streaming source serves the fork's base snapshot (it opens
    # each referenced file by absolute path with pyarrow, partition
    # values from the manifest tuple — no basePath involved)
    from python_plugins_spark.sources import iceberg_stream

    dst3 = _fresh("ice_fork_stream")
    I.snapshot_iceberg(src, dst3)
    iceberg_stream.register(spark)
    q = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", dst3)
        .load()
        .writeStream.format("memory")
        .queryName("fork_stream_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    srows = spark.table("fork_stream_sink").collect()
    assert {r.id for r in srows} == set(range(30)) | set(range(200, 205))
    assert all(r.g is not None for r in srows)

    # rewrite_data_files LOCALIZES a fork: compaction materializes the
    # absolute source references into the fork's own files, detaching
    # it from the parent's retention — fork materialization for free
    import os as _os

    assert [f for f in I.plan_files(dst3) if _os.path.isabs(f["path"])]
    I.rewrite_data_files(spark, dst3)
    assert not [
        f for f in I.plan_files(dst3) if _os.path.isabs(f["path"])
    ], "rewrite left absolute source references"
    assert I.read_iceberg(spark, dst3).count() == 35
    assert I.read_iceberg(spark, src).count() == 35  # source untouched

    # guards: delete-bearing sources refuse, existing dst refuses
    I.delete_iceberg(spark, src, "id = 7")
    with pytest.raises(ValueError, match="delete files"):
        I.snapshot_iceberg(src, _fresh("ice_fork_nope"))
    with pytest.raises(ValueError, match="already exists"):
        I.snapshot_iceberg(src, dst)


def test_iceberg_partition_spec_evolution(spark):
    """evolve_partition_spec (round 6): change how NEW data partitions
    in one metadata commit — old files keep their spec, reads span
    both layouts, and pruning applies each file's OWN spec (old files
    by tuple, new files by bounds). No data rewritten."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    p = _fresh("ice_spec_evolve")
    rows = lambda a, b: spark.range(a, b).selectExpr(  # noqa: E731
        "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
    )
    I.write_iceberg(rows(0, 20), p, "overwrite", partition_by="g")
    v = I.evolve_partition_spec(
        p, {"transform": "bucket", "source": "id", "n": 4}
    )
    assert v == 2  # metadata-only commit
    I.write_iceberg(rows(100, 120), p, "append")  # lands under spec 1

    back = I.read_iceberg(spark, p)
    assert back.count() == 40
    assert {r.g for r in back.select("g").distinct().collect()} == {0, 1, 2}
    # files live under BOTH specs
    specs = {f["spec_id"] for f in I.plan_files(p)}
    assert specs == {0, 1}
    # pruning applies each file's own spec: eq on g eliminates the old
    # identity files of other partitions (tuple) while new bucket
    # files stay unless their g-bounds exclude the value
    assert len(I.plan_files(p, eq={"g": 1})) < len(I.plan_files(p))
    assert I.read_iceberg(spark, p, eq={"g": 1}).filter("g = 1").count() == 14

    # evolve to UNPARTITIONED: new files land flat, everything reads
    I.evolve_partition_spec(p, None)
    I.write_iceberg(rows(200, 205), p, "append")
    assert I.read_iceberg(spark, p).count() == 45
    assert {f["spec_id"] for f in I.plan_files(p)} == {0, 1, 2}

    # same-spec evolution is a no-op; unknown source refuses
    assert I.evolve_partition_spec(p, None) == I.current_metadata_version(p)
    with pytest.raises(ValueError, match="not in schema"):
        I.evolve_partition_spec(p, "nope")


def test_iceberg_timestamp_time_travel(spark):
    """FOR TIMESTAMP AS OF (round 6): resolves via the main
    snapshot-log to the latest snapshot at or before the given time;
    the snapshot's recorded schema applies; predating timestamps
    refuse; exclusive with snapshot_id/ref."""
    import time as _time

    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    p = _fresh("ice_ts_travel")
    I.write_iceberg(
        spark.range(10).selectExpr("id", "id * 2.0 AS v"), p, "overwrite"
    )
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    I.write_iceberg(
        spark.range(10, 15).selectExpr("id", "id * 2.0 AS v"), p, "append"
    )
    assert I.read_iceberg(spark, p, as_of_timestamp=t_mid).count() == 10
    assert I.read_iceberg(
        spark, p, as_of_timestamp=int(_time.time() * 1000) + 1000
    ).count() == 15
    with pytest.raises(ValueError, match="predates"):
        I.read_iceberg(spark, p, as_of_timestamp=1)
    with pytest.raises(ValueError, match="at most one"):
        I.read_iceberg(spark, p, snapshot_id=1, as_of_timestamp=t_mid)


def test_iceberg_rollback_to_snapshot(spark):
    """rollback_iceberg (round 6 — Delta RESTORE's format twin): one
    metadata-only commit moves current back to an existing snapshot;
    history is preserved (the bad snapshot still time-travels), the
    next append builds on the rolled-back state, and expire can
    reclaim the orphaned snapshot later."""
    import pytest

    import python_plugins_spark.sources.iceberg_py as I

    p = _fresh("ice_rollback")
    I.write_iceberg(
        spark.range(10).selectExpr("id", "id * 2.0 AS v"), p, "overwrite"
    )  # snapshot 1
    I.write_iceberg(
        spark.range(100, 105).selectExpr("id", "id * 2.0 AS v"), p, "append"
    )  # snapshot 2 — the "bad" load
    assert I.read_iceberg(spark, p).count() == 15

    v = I.rollback_iceberg(p, 1)
    assert v == 3  # a new metadata version, not a rewrite
    assert {r.id for r in I.read_iceberg(spark, p).collect()} == set(range(10))
    # the bad snapshot still time-travels (history preserved)
    assert I.read_iceberg(spark, p, snapshot_id=2).count() == 15

    # the next append builds on the rolled-back snapshot
    I.write_iceberg(
        spark.range(50, 53).selectExpr("id", "id * 2.0 AS v"), p, "append"
    )
    assert {r.id for r in I.read_iceberg(spark, p).collect()} \
        == set(range(10)) | {50, 51, 52}

    # idempotent when already current; unknown snapshot refuses
    assert I.rollback_iceberg(p, I._load_metadata(p)["current-snapshot-id"]) \
        == I.current_metadata_version(p)
    with pytest.raises(ValueError, match="not in table"):
        I.rollback_iceberg(p, 999)


def test_iceberg_add_files_partitioned(spark, sf_dir, tmp_path):
    """Partitioned add_files (round 6): hive ``col=value`` segments in
    each imported file's own path become the manifest partition tuple;
    the file links under the matching data/ hive dir so the identity
    layout reattaches the column on read, and manifest pruning works
    off the parsed tuple. Hidden-transform specs and files without the
    hive segment refuse."""
    import os

    import pytest

    from python_plugins_spark.sources.iceberg_py import (
        add_files_iceberg,
        plan_files,
        read_iceberg,
        write_iceberg,
    )

    # a hive-laid-out parquet lake (partition column NOT in the files)
    lake = str(tmp_path / "lake")
    src = spark.range(30).selectExpr(
        "id", "cast(id % 3 as int) AS g", "id * 2.0 AS v"
    )
    src.write.partitionBy("g").parquet(lake)
    lake_files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(lake)
        for f in fs
        if f.endswith(".parquet")
    )

    path = _fresh("ice_addfiles_hive")
    write_iceberg(src.limit(0), path, mode="overwrite", partition_by="g")
    add_files_iceberg(path, lake_files)
    back = read_iceberg(spark, path)
    assert back.count() == 30
    assert sorted(back.columns) == ["g", "id", "v"]
    assert {r.g for r in back.select("g").distinct().collect()} == {0, 1, 2}
    assert back.filter("g = 1").count() == 10

    # the parsed tuple prunes at the manifest walk
    assert all(f["partition"] == {"g": "2"} for f in
               plan_files(path, eq={"g": 2}))
    assert len(plan_files(path, eq={"g": 2})) < len(plan_files(path))

    # zero-copy claim: linked under the hive dir
    linked = [
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith("-imported.parquet")
    ]
    assert linked and all(f"{os.sep}g=" in p for p in linked)

    # a file without the hive segment refuses
    flat = str(tmp_path / "flat.parquet")
    spark.range(5).selectExpr("id", "id * 2.0 AS v").write.parquet(
        str(tmp_path / "flatdir")
    )
    flat = next(
        os.path.join(str(tmp_path / "flatdir"), f)
        for f in os.listdir(str(tmp_path / "flatdir"))
        if f.endswith(".parquet")
    )
    with pytest.raises(ValueError, match="hive"):
        add_files_iceberg(path, [flat])

    # hidden transforms refuse (a hive path carries source values)
    p2 = _fresh("ice_addfiles_bucket")
    write_iceberg(
        src, p2, mode="overwrite",
        partition_by={"transform": "bucket", "source": "id", "n": 4},
    )
    with pytest.raises(NotImplementedError, match="hidden"):
        add_files_iceberg(p2, lake_files)


# ------------------------------------------------------- write path

def test_iceberg_escaped_partition_values(spark, tmp_path):
    """Partition values Spark escapes in directory names (``:``, ``/``)
    are stored as the values themselves: equality pruning finds them,
    add_files parses an escaped hive path, and a Delta -> Iceberg ->
    Delta conversion keeps ``a:b`` (and its escaped directory)."""
    import os

    from python_plugins_spark.sources.convert import (
        convert_delta_to_iceberg, convert_iceberg_to_delta,
    )
    from python_plugins_spark.sources.delta_py import _replay, read_delta, write_delta
    from python_plugins_spark.sources.iceberg_py import add_files_iceberg

    df = spark.createDataFrame([(1, "a:b"), (2, "x/y")], "id long, k string")
    path = str(tmp_path / "ice")
    write_iceberg(df, path, "overwrite", partition_by="k")
    for v, want in (("a:b", 1), ("x/y", 2)):
        assert [f["partition"] for f in plan_files(path, eq={"k": v})] == [{"k": v}]
        rows = read_iceberg(spark, path, eq={"k": v}).collect()
        assert [(r.id, r.k) for r in rows] == [(want, v)]

    lake = str(tmp_path / "lake")
    df.write.partitionBy("k").parquet(lake)
    imported = str(tmp_path / "imported")
    write_iceberg(df.limit(0), imported, "overwrite", partition_by="k")
    add_files_iceberg(imported, sorted(
        os.path.join(r, f) for r, _, fs in os.walk(lake)
        for f in fs if f.endswith(".parquet")
    ))
    assert sorted(f["partition"]["k"] for f in plan_files(imported)) == ["a:b", "x/y"]
    assert sorted(os.listdir(os.path.join(imported, "data"))) == ["k=a%3Ab", "k=x%2Fy"]
    assert read_iceberg(spark, imported, eq={"k": "a:b"}).count() == 1

    dlt, ice2, dlt2 = (str(tmp_path / n) for n in ("dlt", "ice2", "dlt2"))
    write_delta(df, dlt, "overwrite", partition_by=["k"])
    convert_delta_to_iceberg(dlt, ice2)
    assert sorted(f["partition"]["k"] for f in plan_files(ice2)) == ["a:b", "x/y"]
    convert_iceberg_to_delta(ice2, dlt2)
    _, active = _replay(dlt2)
    assert sorted(a["partitionValues"]["k"] for a in active.values()) == ["a:b", "x/y"]
    assert sorted(os.path.dirname(p) for p in active) == ["k=a%3Ab", "k=x%2Fy"]
    rows = read_delta(spark, dlt2, prune={"k": ("a:b", "a:b")}).collect()
    assert [(r.id, r.k) for r in rows] == [(1, "a:b")]


def test_footer_metadata_pinned(spark, tmp_path):
    """The exact Iceberg bounds (add_files_iceberg) and Delta stats
    (convert_iceberg_to_delta, write_delta) a parquet footer yields:
    two row groups folded per column; Iceberg keeps decimals tagged and
    writes timestamps with a space, Delta writes ISO ``T`` timestamps
    and drops decimals and nested leaves; a row group whose binary
    min/max is not UTF-8 contributes nothing."""
    import datetime as dt
    import json
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_plugins_spark.sources.convert import convert_iceberg_to_delta
    from python_plugins_spark.sources.delta_py import _replay, write_delta
    from python_plugins_spark.sources.iceberg_py import add_files_iceberg

    utc = dt.timezone.utc
    t = pa.table({
        "l": pa.array([1, 5, -3, 9], pa.int64()),
        "bin": pa.array([b"\xff\x00", b"ab", b"cd", b"zz"]),
        "i": pa.array([7, None, 2, 4], pa.int32()),
        "d": pa.array([1.5, -2.25, 3.0, 0.0]),
        "b": pa.array([True, True, False, True]),
        "s": pa.array(["b", "a:b", "zz", "é"]),
        "dt": pa.array([dt.date(2020, 1, 2), dt.date(2019, 12, 31),
                        dt.date(2021, 3, 4), None]),
        "ts": pa.array([dt.datetime(2020, 1, 1, 0, 0, 0, 500000, utc),
                        dt.datetime(2020, 1, 1, tzinfo=utc),
                        dt.datetime(2022, 5, 5, 1, 2, 3, tzinfo=utc),
                        dt.datetime(1999, 1, 1, tzinfo=utc)],
                       pa.timestamp("us", tz="UTC")),
        "dec": pa.array([Decimal("1.5"), Decimal("-2.0000000001"),
                         Decimal("3"), Decimal("0")], pa.decimal128(38, 10)),
    })
    src = str(tmp_path / "two_groups.parquet")
    pq.write_table(t, src, row_group_size=2)
    assert pq.ParquetFile(src).metadata.num_row_groups == 2

    ice = str(tmp_path / "ice")
    schema = (
        "l long, bin binary, i int, d double, b boolean, s string, "
        "dt date, ts timestamp, dec decimal(38,10)"
    )
    write_iceberg(spark.createDataFrame([], schema), ice, "overwrite")
    add_files_iceberg(ice, [src])
    (f,) = [f for f in plan_files(ice) if f["record_count"]]
    assert f["record_count"] == 4
    assert f["lower"] == {
        "l": "-3", "i": "2", "d": "-2.25", "b": "false", "s": '"a:b"',
        "dt": '"2019-12-31"', "ts": '"1999-01-01 00:00:00+00:00"',
        "dec": '{"__dec__": "-2.0000000001"}', "bin": '"cd"',
    }
    assert f["upper"] == {
        "l": "9", "i": "7", "d": "3.0", "b": "true", "s": '"\\u00e9"',
        "dt": '"2021-03-04"', "ts": '"2022-05-05 01:02:03+00:00"',
        "dec": '{"__dec__": "3.0000000000"}', "bin": '"zz"',
    }

    dlt = str(tmp_path / "dlt")
    convert_iceberg_to_delta(ice, dlt)
    _, active = _replay(dlt)
    (stats,) = [json.loads(a["stats"]) for a in active.values()
                if json.loads(a["stats"])["numRecords"]]
    assert stats == {
        "numRecords": 4,
        "minValues": {"l": -3, "i": 2, "d": -2.25, "b": False, "s": "a:b",
                      "dt": "2019-12-31", "ts": "1999-01-01T00:00:00+00:00",
                      "bin": "cd"},
        "maxValues": {"l": 9, "i": 7, "d": 3.0, "b": True, "s": "é",
                      "dt": "2021-03-04", "ts": "2022-05-05T01:02:03+00:00",
                      "bin": "zz"},
    }
    # key order is part of the bytes: the first row group's columns
    # come first, a column first seen in a later row group after them
    assert list(stats["minValues"]) == ["l", "i", "d", "b", "s", "dt", "ts", "bin"]
    assert list(f["lower"]) == ["l", "i", "d", "b", "s", "dt", "ts", "dec", "bin"]

    # nested leaves carry no Delta stats (Iceberg tables are flat)
    nested = str(tmp_path / "nested")
    write_delta(
        spark.range(5).selectExpr("id", "named_struct('x', id * 2) AS st"),
        nested, "overwrite",
    )
    _, active = _replay(nested)
    for a in active.values():
        st = json.loads(a["stats"])
        if st["numRecords"]:
            assert set(st["minValues"]) == set(st["maxValues"]) == {"id"}


def test_timestamp_bounds_prune_files(spark, tmp_path):
    """Spark-written TIMESTAMP columns carry min/max (INT64 micros; INT96
    has none), so Delta stats and Iceberg bounds hold them, and a range
    on the timestamp skips a file. Bounds and literals compare as
    instants: an ISO string with ``T`` or a space, with or without an
    offset, or a naive or aware ``datetime`` at a file's exact bound
    keeps that file."""
    import datetime as dt
    import json

    from python_plugins_spark.sources.delta_py import _replay, read_delta, write_delta

    def frame(start, month):
        return spark.range(start, start + 10, numPartitions=1).select(
            "id", F.make_timestamp(F.lit(2024), F.lit(month), F.lit(1),
                                   F.col("id") % 24, F.lit(0), F.lit(0)).alias("ts")
        )

    # January file: 00:00-09:00 on Jan 1; June file: 04:00-13:00 on Jun 1
    dlt, ice = str(tmp_path / "dlt"), str(tmp_path / "ice")
    for start, month in ((0, 1), (100, 6)):
        write_delta(frame(start, month), dlt)
        write_iceberg(frame(start, month), ice)

    _, active = _replay(dlt)
    stats = [json.loads(a["stats"]) for a in active.values()]
    assert len(stats) == 2
    assert all("ts" in s["minValues"] and "ts" in s["maxValues"] for s in stats)
    june = read_delta(spark, dlt, prune={"ts": ("2024-06-01T00:00:00+00:00", None)})
    assert len(june.inputFiles()) == 1
    assert sorted(r.id for r in june.collect()) == list(range(100, 110))

    files = plan_files(ice)
    assert len(files) == 2 and all("ts" in f["lower"] and "ts" in f["upper"] for f in files)
    since = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    assert len(plan_files(ice, ranges={"ts": (since, None)})) == 1
    assert read_iceberg(spark, ice, ranges={"ts": (since, None)}).count() == 10

    utc = dt.timezone.utc
    # (lo, hi) -> files kept; each literal sits at the June file's min
    # (04:00) or max (13:00), or just short of its min
    cases = [
        ((None, "2024-06-01T04:00:00"), 2),
        ((None, "2024-06-01 04:00:00"), 2),
        ((None, "2024-06-01T04:00:00Z"), 2),
        ((None, "2024-06-01T06:00:00+02:00"), 2),
        ((None, dt.datetime(2024, 6, 1, 4)), 2),
        ((None, "2024-06-01 03:59:59"), 1),
        ((None, dt.datetime(2024, 6, 1, 3, 59, 59, tzinfo=utc)), 1),
        (("2024-06-01T13:00:00", None), 1),
        (("2024-06-01 13:00:00", None), 1),
        ((dt.datetime(2024, 6, 1, 13), None), 1),
        ((dt.datetime(2024, 6, 1, 13, 0, 1), None), 0),
        (("2024-06-01 13:00:01+00:00", None), 0),
        (("2024-01-01 09:00:00", "2024-06-01 04:00:00"), 2),
        (("2024-01-01 09:00:01", "2024-06-01 03:59:59"), 0),
    ]
    for rng, kept in cases:
        got = read_delta(spark, dlt, prune={"ts": rng}).inputFiles()
        assert len(got) == kept, ("delta", rng)
        assert len(plan_files(ice, ranges={"ts": rng})) == kept, ("iceberg", rng)
    for point, kept in [
        (dt.datetime(2024, 6, 1, 4), 1),
        ("2024-06-01 13:00:00", 1),
        ("2024-01-01T00:00:00Z", 1),
        (dt.datetime(2024, 3, 1), 0),
    ]:
        assert len(plan_files(ice, eq={"ts": point})) == kept, ("iceberg eq", point)
