"""Iceberg table as a STRUCTURED STREAMING SOURCE (Spark 4 Python
DataSource streaming API): ``spark.readStream.format("iceberg_py_stream")
.option("path", table).load()`` tails the snapshot history, emitting
each snapshot's appended data files as a micro-batch — the format twin
of :mod:`.delta_stream`.

- **offsets are snapshot ids** (this layer assigns them densely, one
  per metadata version): ``{"snapshot": N}`` means "snapshots <= N are
  consumed". The engine checkpoints offsets, so a restart resumes
  exactly after the last committed snapshot — exactly-once delivery of
  each snapshot's rows, inherited from metadata immutability (a
  published ``vN.metadata.json`` never changes). If `expire_snapshots`
  deletes an unconsumed snapshot's manifests, the stream fails loudly
  (Kafka's failOnDataLoss stance) rather than silently skipping rows —
  size the retention window to the slowest consumer.
- **partition planning is metadata-only**: for each snapshot in range
  :func:`iceberg_py._snapshot_changes` (the planner
  ``table_changes_iceberg`` uses) opens that snapshot's OWN metadata
  file, walks its manifest list, and keeps only manifests added BY that
  snapshot (``added_snapshot_id == N``) — one InputPartition per added
  data file; the driver never touches row data.
- **reads are executor-side Arrow**: each task opens its one parquet
  file with pyarrow and yields ``pyarrow.RecordBatch``es cast to the
  declared schema (:func:`.delta_stream._file_batches`), so TIMESTAMP
  columns, identity partition values and renamed columns all resolve
  column by column, with no per-row Python.

Change semantics: the stream is the APPEND stream. Snapshots that add
delete files (position or equality) or that overwrite the table raise
by default; ``ignoreChanges=true`` instead emits just the snapshot's
genuinely new data files (the documented trade-off: rows logically
deleted by a merge-on-read commit are not retracted).
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .delta_stream import _file_batches
from .iceberg_py import (
    _current_schema_node,
    _load_metadata,
    _phys_map,
    _snapshot_changes,
    current_metadata_version,
    iceberg_schema_to_spark,
    plan_files,
)


class IcebergStreamSource(DataSource):
    """Options: ``path`` (required), ``starting_snapshot`` (default 1 —
    first batch replays the table from its beginning),
    ``ignoreChanges`` (default false), ``readChangeFeed`` (default
    false — when true the stream is the CDC stream: table columns plus
    ``_change_type`` and ``_commit_snapshot``, derived per snapshot
    exactly like :func:`iceberg_py.table_changes_iceberg`)."""

    @classmethod
    def name(cls) -> str:
        return "iceberg_py_stream"

    def _cdc(self) -> bool:
        return str(self.options.get("readchangefeed", "false")).lower() == "true"

    def schema(self) -> T.StructType:
        meta = _load_metadata(self.options["path"])
        base = iceberg_schema_to_spark(_current_schema_node(meta))
        if self._cdc():
            return T.StructType(
                base.fields
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_snapshot", T.IntegerType(), False),
                ]
            )
        return base

    def streamReader(self, schema):
        path = self.options["path"]
        start = int(self.options.get("starting_snapshot", 1))
        if self._cdc():
            return IcebergChangeFeedStreamReader(path, start, schema)
        return IcebergStreamReader(
            path, start, schema,
            str(self.options.get("ignorechanges", "false")).lower() == "true",
        )


class _FilePartition(InputPartition):
    """One task: the data file at ``abs_path`` with its partition values
    and change tags; with ``delete_path`` the delete file that selects
    its rows. An equality-delete file keeps the rows matching its
    ``eq_cols`` values. A position-delete file (``victims`` set: data
    file name -> (path, partition values) for the snapshot's data
    files, ``abs_path`` unused) names its victim files and positions
    itself."""

    def __init__(self, abs_path, pvals, tags=(), delete_path=None,
                 eq_cols=(), victims=None):
        self.abs_path = abs_path
        self.pvals = pvals
        self.tags = tags
        self.delete_path = delete_path
        self.eq_cols = eq_cols
        self.victims = victims


class IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, table_path: str, starting_snapshot: int,
                 schema: T.StructType, ignore_changes: bool = False):
        self.table_path = table_path
        self.starting_snapshot = starting_snapshot
        self.table_schema = schema
        self.ignore_changes = ignore_changes
        # logical -> physical column names (renamed columns keep their
        # stable on-disk write-name; see iceberg_py's rename block)
        self.pmap = _phys_map(_current_schema_node(_load_metadata(table_path)))

    def initialOffset(self) -> dict:
        return {"snapshot": self.starting_snapshot - 1}

    def latestOffset(self) -> dict:
        return {"snapshot": current_metadata_version(self.table_path) or 0}

    def _part(self, entry, tags=(), **deletes):
        return _FilePartition(
            os.path.join(self.table_path, entry["path"]),
            dict(entry["partition"] or {}), tags, **deletes,
        )

    def partitions(self, start: dict, end: dict):
        parts: list[_FilePartition] = []
        for v in range(start["snapshot"] + 1, end["snapshot"] + 1):
            added = _snapshot_changes(
                self.table_path, v, rewrites_ok=self.ignore_changes
            )
            if any(e["content"] for e in added) and not self.ignore_changes:
                raise ValueError(
                    f"snapshot {v} of {self.table_path} adds delete "
                    "files; set ignoreChanges=true to stream only "
                    "newly added data files"
                )
            parts += [self._part(e) for e in added if e["content"] == 0]
        return parts

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        schema, pmap = self.table_schema, self.pmap
        if partition.victims is not None:
            dels = pq.read_table(partition.delete_path, columns=["file_path", "pos"])
            by_file = dels.group_by("file_path").aggregate([("pos", "list")])
            for fp, positions in zip(
                by_file["file_path"].to_pylist(), by_file["pos_list"].to_pylist()
            ):
                victim = partition.victims.get(os.path.basename(fp))
                if victim is not None:
                    yield from _file_batches(
                        victim[0], schema, pmap, victim[1],
                        take=sorted(positions), tags=partition.tags,
                    )
            return
        keys = None
        if partition.eq_cols:
            keys = pq.read_table(
                partition.delete_path,
                columns=[pmap.get(c, c) for c in partition.eq_cols],
            ).rename_columns(list(partition.eq_cols))
        yield from _file_batches(
            partition.abs_path, schema, pmap, partition.pvals,
            keys=keys, tags=partition.tags,
        )

    def commit(self, end: dict) -> None:
        pass  # the engine's checkpoint IS the consumption record


class IcebergChangeFeedStreamReader(IcebergStreamReader):
    """Streaming twin of :func:`iceberg_py.table_changes_iceberg`,
    planned by the same :func:`iceberg_py._snapshot_changes`: append
    snapshots plan one 'insert' partition per added data file;
    position-delete snapshots one partition per delete file, whose
    victims resolve through the snapshot's manifests (so a fork's
    source-rooted files are found); equality-delete snapshots one
    partition per (earlier data file, delete file) pair — every row
    read happens executor-side. Overwrite snapshots (other than the
    table-creating one) raise: a wholesale rewrite is not
    row-derivable."""

    def partitions(self, start: dict, end: dict):
        node = _current_schema_node(_load_metadata(self.table_path))
        id_to_name = {f["id"]: f["name"] for f in node["fields"]}
        parts: list[_FilePartition] = []
        for v in range(start["snapshot"] + 1, end["snapshot"] + 1):
            added = _snapshot_changes(self.table_path, v)
            live = (
                plan_files(self.table_path, v)
                if any(e["content"] for e in added) else []
            )
            for e in added:
                delete_path = os.path.join(self.table_path, e["path"])
                if e["content"] == 0:
                    parts.append(self._part(e, ("insert", v)))
                elif e["content"] == 1:
                    victims = {
                        os.path.basename(f["path"]): (
                            os.path.join(self.table_path, f["path"]),
                            dict(f["partition"] or {}),
                        )
                        for f in live
                    }
                    parts.append(_FilePartition(
                        None, {}, ("delete", v), delete_path, victims=victims
                    ))
                else:
                    eq_cols = [id_to_name[i] for i in e["equality_ids"]]
                    parts += [
                        self._part(f, ("delete", v), delete_path=delete_path,
                                   eq_cols=eq_cols)
                        for f in live
                        if f["snapshot_id"] < v
                    ]
        return parts


def register(spark) -> None:
    """Idempotent registration of the streaming format."""
    spark.dataSource.register(IcebergStreamSource)
