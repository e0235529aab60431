"""Metadata-only table-format conversion: Iceberg <-> Delta.

Both formats are "parquet files + a metadata layer that names the live
set", so converting a table is a metadata rewrite, not a data rewrite:
hard-link every live data file into the target layout (zero copy on
the same filesystem; falls back to copy across devices) and publish a
single commit/snapshot that references them. This is the shape of
Delta's public ``CONVERT TO DELTA`` and Iceberg's ``snapshot``/
``migrate`` procedures — at 100 TB the difference between this and a
read-rewrite is the whole job.

Preconditions (checked, not assumed):

- Iceberg -> Delta requires an EMPTY delete-file stack (position or
  equality deletes pending would need merge-on-read application; run
  ``rewrite_data_files`` first — the error says so).
- Delta -> Iceberg likewise refuses tables with live deletion vectors
  (run ``optimize_delta`` first). Identity-partitioned sources convert
  (multi-column too); column-mapped tables convert — the delta
  physicalName becomes the iceberg field's write-name, the same
  stable-physical-name mechanism the iceberg layer uses for id-based
  renames — except when a PARTITION column was renamed (the identity
  layout keys on the column's name; materialize first). Iceberg ->
  Delta still refuses hidden-partitioning transforms and evolved
  (mixed-layout) specs, which Delta cannot represent.
- The target path must not already contain a table: conversion
  publishes version 0 / v1 via the same put-if-absent primitive the
  writers use, so a concurrent creation is a detected conflict.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from python_plugins_spark.sources import delta_py as DP
from python_plugins_spark.sources import iceberg_py as IP
from python_plugins_spark.sources.avro_py import write_container
from python_plugins_spark.sources.parquet_files import claim_parquet, hive_dir


def convert_iceberg_to_delta(ice_path: str, delta_path: str) -> int:
    """Publish the CURRENT Iceberg snapshot as Delta version 0.
    Returns the committed Delta version (always 0)."""
    pending = IP.plan_delete_files(ice_path)
    if pending:
        raise ValueError(
            f"iceberg table has {len(pending)} live delete file(s); "
            "run rewrite_data_files() to apply them, then convert"
        )
    meta = IP._load_metadata(ice_path)
    schema = IP.iceberg_schema_to_spark(IP._current_schema_node(meta))
    specs = meta.get("partition-specs") or [{}]
    if len(specs) > 1:
        raise ValueError(
            "iceberg table has evolved partition specs (files under "
            "mixed layouts); rewrite_data_files() to migrate them to "
            "one spec, then convert"
        )
    default_id = meta.get("default-spec-id", 0)
    spec = next(
        (sp for sp in specs if sp.get("spec-id", 0) == default_id), {}
    ).get("fields") or []
    hidden = [f["name"] for f in spec if f["transform"] != "identity"]
    if hidden:
        raise ValueError(
            f"iceberg table uses hidden-partitioning transforms {hidden}; "
            "Delta's hive model is identity-only — rewrite under an "
            "identity spec (evolve_partition_spec + rewrite_data_files) "
            "first"
        )
    part_cols = [f["name"] for f in spec]

    now_ms = int(time.time() * 1000)
    os.makedirs(DP._log_path(delta_path), exist_ok=True)
    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    for f in IP.plan_files(ice_path):
        pvals = {k: str(v) for k, v in (f["partition"] or {}).items()}
        # Delta hive layout: partition dirs between table root and file
        rel = os.path.join(hive_dir(pvals), os.path.basename(f["path"]))
        actions.append(DP._add_action(claim_parquet(
            os.path.join(ice_path, f["path"]), delta_path, rel, pvals
        ), now_ms))

    commit = os.path.join(DP._log_path(delta_path), f"{0:020d}.json")
    body = "".join(json.dumps(a) + "\n" for a in actions)
    if not DP._put_if_absent(body, commit):
        raise DP.DeltaConcurrentWriteError(
            f"{delta_path} already has a Delta commit 0; refusing to convert "
            "onto an existing table"
        )
    return 0


def convert_delta_to_iceberg(delta_path: str, ice_path: str) -> int:
    """Publish the CURRENT Delta snapshot as Iceberg snapshot 1.
    Returns the committed snapshot id (always 1)."""
    state = DP._replay_state(delta_path)
    part_cols = state.meta.get("partitionColumns") or []
    dvs = [a for a in state.active.values() if a.get("deletionVector")]
    if dvs:
        raise ValueError(
            f"delta table has {len(dvs)} file(s) with live deletion "
            "vectors; run optimize_delta() to purge them, then convert"
        )
    schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
    # column mapping converts too (round 6): delta's per-field
    # physicalName becomes the iceberg field's write-name — the exact
    # same stable-physical-name mechanism the iceberg layer uses for
    # its own id-based renames, so the linked files' parquet columns
    # resolve unchanged. Only a RENAMED PARTITION column refuses
    # (delta partitionColumns are physical names; the iceberg identity
    # layout would partition by the logical one — and the iceberg
    # layer forbids renaming partition sources anyway).
    cm = DP.column_mapping_enabled(state.meta)
    _phys = {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in schema.fields
    } if cm else {f.name: f.name for f in schema.fields}
    renamed_parts = [
        f.name for f in schema.fields
        if _phys[f.name] in part_cols and _phys[f.name] != f.name
    ]
    if renamed_parts:
        raise ValueError(
            f"partition column(s) {renamed_parts} were renamed under "
            "column mapping; materialize the table first (iceberg "
            "identity layouts key on the partition column's name)"
        )
    # bounds (and the linked files' columns) use PHYSICAL names
    names = {_phys[f.name] for f in schema.fields if f.name not in part_cols}

    os.makedirs(IP._meta_dir(ice_path), exist_ok=True)
    os.makedirs(os.path.join(ice_path, "data"), exist_ok=True)
    now_ms = int(time.time() * 1000)
    snapshot_id = 1
    entries = [
        IP._added(claim_parquet(
            os.path.join(delta_path, rel), ice_path, os.path.join("data", rel),
            dict(add.get("partitionValues") or {}),
        ), names)
        for rel, add in sorted(state.active.items())
    ]

    manifest_name = f"manifest-{snapshot_id}-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(IP._meta_dir(ice_path), manifest_name)
    write_container(manifest_path, IP._MANIFEST_ENTRY_NODE, entries)
    ml_rows = [
        (
            os.path.relpath(manifest_path, ice_path),
            os.path.getsize(manifest_path),
            0,
            snapshot_id,
            len(entries),
            0,
            0,
        )
    ]
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    ml_path = os.path.join(IP._meta_dir(ice_path), ml_name)
    write_container(ml_path, IP._MANIFEST_FILE_NODE, ml_rows)

    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": [f.name for f in schema.fields].index(c) + 1,
            "field-id": 1000 + i,
        }
        for i, c in enumerate(part_cols)
    ]
    ice_node = IP.spark_schema_to_iceberg(schema)
    for fj, fs in zip(ice_node["fields"], schema.fields):
        if _phys[fs.name] != fs.name:
            fj["write-name"] = _phys[fs.name]
    new_meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": ice_path,
        "last-updated-ms": now_ms,
        "schemas": [ice_node],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.relpath(ml_path, ice_path),
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(entries)),
                },
            }
        ],
        "current-snapshot-id": snapshot_id,
        "snapshot-log": [{"snapshot-id": snapshot_id, "timestamp-ms": now_ms}],
    }
    meta_file = os.path.join(IP._meta_dir(ice_path), f"v{snapshot_id}.metadata.json")
    if not IP._put_if_absent(json.dumps(new_meta), meta_file):
        raise IP.IcebergConcurrentWriteError(
            f"{ice_path} already has Iceberg metadata v1; refusing to "
            "convert onto an existing table"
        )
    IP._advance_hint(ice_path, snapshot_id)
    return snapshot_id
