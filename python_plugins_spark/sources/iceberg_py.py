"""Minimal Apache Iceberg table support, implemented from the PUBLIC
Iceberg table spec (https://iceberg.apache.org/spec/): a table is a
directory of parquet data files plus a ``metadata/`` tree —
``v<N>.metadata.json`` (schema, partition spec, snapshot list) →
per-snapshot **manifest list** (Avro) → **manifest files** (Avro, one
entry per data file with partition values and column bounds) → data
files. ``version-hint.text`` names the current metadata version
(the spec's file-system-catalog convention).

No iceberg-spark runtime or pyiceberg exists in this environment, so
the metadata layer is implemented here, reusing this repo's own Avro
object-container codec (:mod:`.avro_py`) for manifest/manifest-list
files — Iceberg's manifests ARE Avro files by spec. As with
:mod:`.delta_py`, every heavy read stays on Spark's native vectorized
parquet scan; the metadata walk is tiny driver-side IO, like reading a
parquet footer.

What the metadata layer buys at scale (and what the registry queries
exercise):

- **snapshot isolation + time travel**: each commit is a new immutable
  snapshot; readers pin one snapshot id.
- **manifest/file pruning WITHOUT listing or opening data files**:
  partition values and per-column lower/upper bounds live in the
  manifests, so a predicate eliminates files from the scan list before
  Spark ever sees them — at 100 TB this is the difference between
  scanning 3 files and 30,000 (directory listing alone can take
  minutes; Iceberg's core design point).

Documented divergences from the byte-exact spec (this is a minimal
single-writer filesystem-catalog subset, same spirit as delta_py):

- manifest ``partition`` and ``lower_bounds``/``upper_bounds`` are
  Avro ``map<string,string>`` with JSON-encoded values, not the spec's
  field-id-keyed binary single-value serialization;
- top-level primitive columns only in bounds (nested types scan fine
  but don't contribute prune stats);
- one manifest per commit at write time (:func:`rewrite_manifests`
  compacts them on demand, preserving delete scoping via per-entry
  added_snapshot_id); no catalog atomicity beyond the version-hint
  rename;
- **row-level deletes (format-version 2) ARE implemented**: position
  delete files (content=1, :func:`delete_iceberg`) and equality
  delete files (content=2, :func:`equality_delete_iceberg`), both
  merge-on-read with native parquet scans on every side; equality
  scoping uses the manifests' added_snapshot_id in place of the
  spec's per-entry sequence numbers (equivalent ordering for this
  layer's one-manifest-per-commit writes).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict
from datetime import date, datetime
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from python_plugins_spark.sources.avro_py import read_container, write_container
from python_plugins_spark.sources.delta_py import _put_if_absent
from python_plugins_spark.sources.parquet_files import (
    StagedFile,
    bounds_may_match,
    claim_parquet,
    hive_dir,
    hive_values,
    read_footer,
    stage_parquet,
    timestamp_key,
    unstage,
)

_META_DIR = "metadata"
_DATA_DIR = "data"


# ------------------------------------------------- schema bridge

_SPARK_TO_ICE = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamp",
}

_ICE_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def _spark_type_to_ice(dtype: T.DataType) -> str | None:
    """Spark type -> Iceberg primitive name, incl. parametrized
    decimal(P,S) (which a type-keyed dict cannot hold). Every caller
    that maps types — initial writes AND merge_schema evolution —
    must go through this, not _SPARK_TO_ICE directly."""
    if isinstance(dtype, T.DecimalType):
        return f"decimal({dtype.precision},{dtype.scale})"
    return _SPARK_TO_ICE.get(type(dtype))


def spark_schema_to_iceberg(schema: T.StructType) -> dict:
    """Spark StructType -> Iceberg schema JSON (spec 'Schemas': struct
    with field ids). Top-level primitives only (the subset the tables
    this layer writes need)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        ice = _spark_type_to_ice(f.dataType)
        if ice is None:
            raise ValueError(
                f"iceberg_py writes top-level primitive columns only; "
                f"{f.name} is {f.dataType.simpleString()}"
            )
        fields.append(
            {"id": i, "name": f.name, "required": not f.nullable, "type": ice}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _ice_primitive_to_spark(t: str) -> T.DataType:
    """One Iceberg primitive name -> Spark type (incl. decimal(P,S))."""
    if t.startswith("decimal(") and t.endswith(")"):
        p, s = t[len("decimal("):-1].split(",")
        return T.DecimalType(int(p), int(s))
    dt = _ICE_TO_SPARK.get(t)
    if dt is None:
        raise ValueError(f"unsupported iceberg type {t!r}")
    return dt


def _ice_promotion(old: str, new: str) -> bool:
    """True iff ``old -> new`` is one of the spec's valid primitive
    promotions (spec "Schema Evolution"): int->long, float->double,
    decimal(P,S)->decimal(P',S) with P' > P. Promotions never change
    the field id; readers widen old files' values (Spark's vectorized
    parquet reader does this natively)."""
    if (old, new) in {("int", "long"), ("float", "double")}:
        return True
    if (
        isinstance(old, str) and isinstance(new, str)
        and old.startswith("decimal(") and new.startswith("decimal(")
    ):
        op, osc = old[len("decimal("):-1].split(",")
        np_, nsc = new[len("decimal("):-1].split(",")
        return int(osc) == int(nsc) and int(np_) > int(op)
    return False


def iceberg_schema_to_spark(node: dict) -> T.StructType:
    fields = []
    for f in node["fields"]:
        t = f["type"]
        if isinstance(t, str) and t.startswith("decimal(") and t.endswith(")"):
            p, s = t[len("decimal("):-1].split(",")
            dt = T.DecimalType(int(p), int(s))
        else:
            dt = _ICE_TO_SPARK.get(t)
        if dt is None:
            raise ValueError(f"unsupported iceberg type {t!r}")
        fields.append(T.StructField(f["name"], dt, not f.get("required", False)))
    return T.StructType(fields)


# ------------------------------------------------- avro node shapes

# manifest entry (spec 'Manifests', trimmed): one row per data file
_MANIFEST_ENTRY_NODE = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},  # 1=ADDED 0=EXISTING 2=DELETED
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": {"type": "map", "values": "string"}},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {"name": "lower_bounds", "type": {"type": "map", "values": "string"}},
        {"name": "upper_bounds", "type": {"type": "map", "values": "string"}},
        # spec v2 'content': 0=DATA, 1=POSITION_DELETES, 2=EQUALITY_DELETES
        {"name": "content", "type": "int"},
        # spec 'equality_ids': schema field ids an equality-delete file
        # matches on (empty for data / position-delete files)
        {"name": "equality_ids", "type": {"type": "array", "items": "int"}},
    ],
}

# Entry node used by rewritten (compacted) manifests: identical plus a
# per-entry ``added_snapshot_id`` preserving each file's ORIGINAL
# commit — the spec's inherited-sequence-number mechanism, needed so
# equality-delete scoping survives manifest compaction. Readers accept
# both shapes (Avro containers embed the writer schema).
_MANIFEST_ENTRY_NODE_V2 = {
    "type": "record",
    "name": "manifest_entry",
    "fields": _MANIFEST_ENTRY_NODE["fields"]
    + [{"name": "added_snapshot_id", "type": "long"}],
}

# manifest-list entry (spec 'Manifest Lists', trimmed)
_MANIFEST_FILE_NODE = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}


# ------------------------------------------------- bounds encoding

def _enc_bound(v) -> str:
    """JSON-encode a stats value canonically (dates/timestamps as ISO
    strings: dates order lexicographically, timestamps are compared as
    instants through ``timestamp_key``)."""
    if isinstance(v, datetime):
        return json.dumps(v.isoformat(sep=" "))
    if isinstance(v, date):
        return json.dumps(v.isoformat())
    if isinstance(v, bytes):
        return json.dumps(v.hex())
    if isinstance(v, Decimal):
        # exact decimal string, tagged so decode restores Decimal (a
        # float round-trip would corrupt high-precision bounds)
        return json.dumps({"__dec__": str(v)})
    return json.dumps(v)


def _dec_bound(s: str):
    v = json.loads(s)
    if isinstance(v, dict) and "__dec__" in v:
        return Decimal(v["__dec__"])
    return v


def _cmp_key(v):
    """Comparable form of a decoded bound / query literal."""
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


# ------------------------------------------------- metadata files

def _meta_dir(path: str) -> str:
    return os.path.join(path, _META_DIR)


class IcebergConcurrentWriteError(RuntimeError):
    """A concurrent writer committed the metadata version this commit
    was built against (or the retry budget ran out). The operation's
    scan results are tied to the snapshot it read, so the safe recovery
    is to re-run the whole operation against the new snapshot."""


def _advance_hint(path: str, version: int) -> None:
    """Move ``version-hint.text`` forward, never backward: two racing
    winners of v and v+1 may publish hints out of order, so the hint is
    advisory — :func:`current_metadata_version` trusts the metadata
    files themselves."""
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    try:
        with open(hint) as fh:
            existing = int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        existing = 0
    target = max(existing, version)
    tmp = hint + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(target))
    os.replace(tmp, hint)


def current_metadata_version(path: str) -> int | None:
    """Newest committed metadata version. The ``v*.metadata.json``
    files are authoritative (each is a put-if-absent commit); the hint
    file is only a fast-path floor, because a slow writer can publish
    the hint for v after the winner of v+1 published theirs."""
    meta = _meta_dir(path)
    best = None
    hint = os.path.join(meta, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            try:
                best = int(fh.read().strip())
            except ValueError:
                best = None
    if os.path.isdir(meta):
        for f in os.listdir(meta):
            if f.startswith("v") and f.endswith(".metadata.json"):
                try:
                    v = int(f[1 : -len(".metadata.json")])
                except ValueError:
                    continue
                if best is None or v > best:
                    best = v
    return best


# ------------------------------------------------- partition transforms

def _normalize_pspecs(partition_by) -> list[dict]:
    """partition_by (a single spec or a LIST of specs, each a str for
    identity or {"transform": ..., "source": ..., n/width} for hidden
    partitioning) -> list of normalized spec dicts — multi-field
    partition specs compose, e.g. [status, bucket(custkey, 8)]."""
    if partition_by is None:
        return []
    if isinstance(partition_by, (list, tuple)):
        out = [_normalize_pspec(pb) for pb in partition_by]
        pnames = [o["pname"] for o in out]
        if len(set(pnames)) != len(pnames):
            raise ValueError(f"duplicate partition fields {pnames}")
        return out
    return [_normalize_pspec(partition_by)]


def _normalize_pspec(partition_by):
    """One partition_by entry -> normalized spec dict
    {kind, source, param, pname, tstr}."""
    if isinstance(partition_by, str):
        return {"kind": "identity", "source": partition_by, "param": None,
                "pname": partition_by, "tstr": "identity"}
    kind = partition_by["transform"]
    src = partition_by["source"]
    if kind == "identity":
        return {"kind": "identity", "source": src, "param": None,
                "pname": src, "tstr": "identity"}
    if kind == "bucket":
        n = int(partition_by["n"])
        return {"kind": "bucket", "source": src, "param": n,
                "pname": f"{src}_bucket", "tstr": f"bucket[{n}]"}
    if kind == "truncate":
        w = int(partition_by["width"])
        return {"kind": "truncate", "source": src, "param": w,
                "pname": f"{src}_trunc", "tstr": f"truncate[{w}]"}
    if kind in ("year", "month", "day", "hour"):
        return {"kind": kind, "source": src, "param": None,
                "pname": f"{src}_{kind}", "tstr": kind}
    raise ValueError(f"unknown partition transform {kind!r}")


def _pspecs_from_meta(meta, spec_id: int | None = None) -> list[dict]:
    """Reconstruct the normalized spec list from committed metadata —
    the DEFAULT spec unless ``spec_id`` names a historical one (spec
    evolution keeps every spec a live file was written under)."""
    specs = meta.get("partition-specs") or [{}]
    if spec_id is None:
        spec_id = meta.get("default-spec-id", 0)
    spec = next((sp for sp in specs if sp.get("spec-id", 0) == spec_id), {})
    fields = spec.get("fields") or []
    id_to_name = {fd["id"]: fd["name"] for fd in _current_schema_node(meta)["fields"]}
    out = []
    for f in fields:
        tstr = f["transform"]
        src = id_to_name[f["source-id"]]
        if tstr == "identity":
            out.append(_normalize_pspec(src))
        elif tstr.startswith("bucket["):
            out.append(_normalize_pspec(
                {"transform": "bucket", "source": src, "n": int(tstr[7:-1])}
            ))
        elif tstr.startswith("truncate["):
            out.append(_normalize_pspec(
                {"transform": "truncate", "source": src, "width": int(tstr[9:-1])}
            ))
        elif tstr in ("year", "month", "day", "hour"):
            out.append(_normalize_pspec({"transform": tstr, "source": src}))
        else:
            raise ValueError(f"unknown committed transform {tstr!r}")
    return out


def _transform_col(pspec, dtype: T.DataType):
    """The Spark Column computing the partition value from the source
    column (``dtype`` is the source column's type). NOTE a documented
    divergence: bucket uses CRC32 of the value's string form, not the
    spec's murmur3_32 of the typed bytes — self-consistent between
    write-side layout and read-side pruning, which is what this
    layer's correctness needs."""
    from pyspark.sql import functions as F

    c = F.col(pspec["source"])
    if pspec["kind"] == "bucket":
        return F.pmod(
            F.crc32(c.cast("string").cast("binary")), F.lit(pspec["param"])
        ).cast("int")
    if pspec["kind"] == "truncate":
        w = pspec["param"]
        # spec: strings truncate to a prefix; integers floor to a
        # multiple of the width (negatives toward -inf, hence pmod)
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return (c - F.pmod(c, F.lit(w))).cast(dtype)
        return F.substring(c, 1, w)
    if pspec["kind"] == "day":
        return F.to_date(c)
    if pspec["kind"] == "year":
        return F.year(c)
    if pspec["kind"] == "month":
        # spec: months since epoch would also work; the hive-dir form
        # 'YYYY-MM' is what Spark's partitionBy writes legibly and
        # orders lexicographically — self-consistent with pruning
        return F.date_format(c, "yyyy-MM")
    if pspec["kind"] == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    raise ValueError(pspec["kind"])


def _transform_value(pspec, v) -> str:
    """Python twin of the write-side transform — evaluates the
    partition value a predicate constant lands in, for manifest
    pruning. Must produce exactly the string Spark writes in the
    hive dir name."""
    import zlib
    from datetime import date, datetime

    kind = pspec["kind"]
    if kind == "identity":
        return str(v)
    if kind == "bucket":
        return str(zlib.crc32(str(v).encode("utf-8")) % pspec["param"])
    if kind == "truncate":
        w = pspec["param"]
        if isinstance(v, int):
            return str(v - (v % w))
        return str(v)[:w]
    if kind == "day":
        if isinstance(v, datetime):
            return v.date().isoformat()
        if isinstance(v, date):
            return v.isoformat()
        return str(v)[:10]
    if kind == "year":
        if isinstance(v, (datetime, date)):
            return str(v.year)
        return str(v)[:4]
    if kind == "month":
        if isinstance(v, (datetime, date)):
            return f"{v.year:04d}-{v.month:02d}"
        return str(v)[:7]
    if kind == "hour":
        if isinstance(v, datetime):
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}-{v.hour:02d}"
        return str(v)[:13].replace(" ", "-").replace("T", "-")
    raise ValueError(kind)


def _require_v2(meta: dict, feature: str) -> None:
    """Row-level deletes are a format-version-2 feature (spec: v1
    tables have no delete files); refuse with the upgrade pointer."""
    if meta.get("format-version", 2) < 2:
        raise ValueError(
            f"{feature} require format-version 2; this table is "
            f"format-version {meta.get('format-version')} — run "
            "upgrade_format_version() first"
        )


def _current_schema_node(meta: dict) -> dict:
    """The metadata's CURRENT schema (spec: schemas list +
    current-schema-id; evolution appends new schemas, ids stable)."""
    sid = meta.get("current-schema-id", 0)
    for sc in meta.get("schemas", []):
        if sc.get("schema-id", 0) == sid:
            return sc
    return meta["schemas"][0]


def _load_metadata(path: str, version: int | None = None) -> dict:
    if version is None:
        version = current_metadata_version(path)
    if version is None:
        raise FileNotFoundError(f"no Iceberg table at {path} (no version-hint.text)")
    with open(os.path.join(_meta_dir(path), f"v{version}.metadata.json")) as fh:
        return json.load(fh)


# --------------------------------- id-based column rename/drop
#
# Real Iceberg resolves data-file columns by FIELD ID stored in the
# parquet metadata; this layer's files are written by Spark's plain
# parquet writer (no field ids), so identity is carried the way the
# spec's own name-mapping fallback (and Delta column mapping) carries
# it: every field has a stable physical WRITE NAME — the name it was
# created under — recorded as ``write-name`` on the schema field once
# it diverges from the logical name. Rename and drop are then pure
# metadata commits: no data file is touched, old files keep resolving
# through the stable physical name, and a re-added column with a
# previously-used name draws a FRESH physical name so it can never
# resurrect dropped data.

def _physical_name(fd: dict) -> str:
    return fd.get("write-name", fd["name"])


def _phys_map(node: dict) -> dict[str, str]:
    """logical -> physical for the given schema node."""
    return {fd["name"]: _physical_name(fd) for fd in node["fields"]}


def _used_physical_names(meta: dict) -> set[str]:
    """Every physical column name any schema version ever wrote —
    the collision set for newly added fields."""
    used: set[str] = set()
    for sc in meta.get("schemas", []):
        for fd in sc["fields"]:
            used.add(_physical_name(fd))
    return used


def _commit_metadata_only(path: str, mutate, max_retries: int = 10) -> int:
    """Publish a metadata-only change (schema rename/drop): load the
    current metadata, apply ``mutate(meta) -> new_meta``, put-if-absent
    the next version. No snapshot is added; the data tree is
    untouched. Returns the new metadata version."""
    for _ in range(max_retries):
        cur = current_metadata_version(path)
        meta = _load_metadata(path, cur)
        new_meta = mutate(json.loads(json.dumps(meta)))
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        version = (cur or 0) + 1
        dst = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
        if _put_if_absent(json.dumps(new_meta), dst):
            _advance_hint(path, version)
            return version
    raise IcebergConcurrentWriteError(
        f"metadata-only commit on {path} lost {max_retries} races; re-run"
    )


def _refuse_partition_source(meta: dict, name: str, op: str) -> None:
    for p_ in _pspecs_from_meta(meta):
        if p_["source"] == name:
            raise ValueError(
                f"{op}: {name!r} is a partition source column "
                f"({p_['tstr']}); repartitioning is a rewrite, not a "
                "metadata change"
            )


def rename_column_iceberg(path: str, old: str, new: str) -> int:
    """Metadata-only column rename (spec: ids are identity, names are
    labels). Old data files keep their on-disk column name; reads and
    writes translate through the pinned ``write-name``. Refuses
    partition source columns. Returns the new metadata version."""
    meta = _load_metadata(path)
    node = _current_schema_node(meta)
    names = [fd["name"] for fd in node["fields"]]
    if old not in names:
        raise ValueError(f"rename_column_iceberg: no column {old!r}")
    if new in names:
        raise ValueError(f"rename_column_iceberg: {new!r} already exists")
    _refuse_partition_source(meta, old, "rename_column_iceberg")

    def mutate(m: dict) -> dict:
        n = json.loads(json.dumps(_current_schema_node(m)))
        for fd in n["fields"]:
            if fd["name"] == old:
                fd["write-name"] = _physical_name(fd)  # pin before rename
                fd["name"] = new
        n["schema-id"] = len(m["schemas"])
        m["schemas"] = m["schemas"] + [n]
        m["current-schema-id"] = n["schema-id"]
        return m

    return _commit_metadata_only(path, mutate)


def drop_column_iceberg(path: str, name: str) -> int:
    """Metadata-only column drop: the field leaves the schema, its
    data stays in the files (ignored by reads) until a rewrite. A
    later re-add of the same name gets a fresh id AND a fresh physical
    name, so dropped values can never resurface. Returns the new
    metadata version."""
    meta = _load_metadata(path)
    node = _current_schema_node(meta)
    if name not in [fd["name"] for fd in node["fields"]]:
        raise ValueError(f"drop_column_iceberg: no column {name!r}")
    if len(node["fields"]) == 1:
        raise ValueError("drop_column_iceberg: cannot drop the last column")
    _refuse_partition_source(meta, name, "drop_column_iceberg")

    def mutate(m: dict) -> dict:
        n = json.loads(json.dumps(_current_schema_node(m)))
        n["fields"] = [fd for fd in n["fields"] if fd["name"] != name]
        n["schema-id"] = len(m["schemas"])
        m["schemas"] = m["schemas"] + [n]
        m["current-schema-id"] = n["schema-id"]
        return m

    return _commit_metadata_only(path, mutate)


def table_snapshots(path: str) -> list[dict]:
    """[{snapshot-id, timestamp-ms, operation}] oldest-first."""
    meta = _load_metadata(path)
    return [
        {
            "snapshot-id": s["snapshot-id"],
            "timestamp-ms": s["timestamp-ms"],
            "operation": s.get("summary", {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]


# ------------------------------------------------- write path

def _added(f: StagedFile, names=(), content: int = 0, eq_ids=()) -> tuple:
    """The ADDED manifest entry for a staged or claimed file. The
    footer's (min, max) of the columns in ``names`` (the table's
    physical data columns) become the entry's bounds — real
    statistics, the same ones a Java Iceberg writer would persist."""
    b = {n: v for n, v in f.footer.bounds.items() if n in names}
    return (
        1,  # ADDED
        f.path,
        "PARQUET",
        f.partition,
        f.footer.num_rows,
        f.size,
        {n: _enc_bound(lo) for n, (lo, _) in b.items()},
        {n: _enc_bound(hi) for n, (_, hi) in b.items()},
        content,  # 0 DATA, 1 POSITION_DELETES, 2 EQUALITY_DELETES
        list(eq_ids),
    )


def _stage_data(
    df: DataFrame, path: str, pspecs: list[dict], phys: dict
) -> list[tuple]:
    """Stage ``df`` as data files under the partition layout
    ``pspecs``; return their manifest entries. Renamed columns write
    under their stable PHYSICAL name (:func:`rename_column_iceberg`;
    partition sources can't be renamed, so the directory keys are
    unaffected). A hidden transform's derived value keys the layout
    while the SOURCE column stays in the data files (lossy)."""
    from pyspark.sql import functions as F

    out_df = df
    if any(phys.get(c, c) != c for c in df.columns):
        out_df = out_df.select(
            *[F.col(c).alias(phys.get(c, c)) for c in df.columns]
        )
    for p_ in pspecs:
        if p_["kind"] != "identity":
            src_type = df.schema[p_["source"]].dataType
            out_df = out_df.withColumn(p_["pname"], _transform_col(p_, src_type))
    keys = [p_["pname"] for p_ in pspecs]
    names = {phys.get(c, c) for c in df.columns if c not in keys}
    return [
        _added(f, names)
        for f in stage_parquet(out_df, path, _DATA_DIR, keys, "{}.parquet")
    ]


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by=None,
    merge_schema: bool = False,
    expected_version: int | None = None,
    format_version: int = 2,
    branch: str | None = None,
) -> int:
    """Commit a new snapshot; returns the snapshot id.

    Data is written by Spark as parquet. ``partition_by`` takes a
    column name (the spec's identity transform — the value is removed
    from data files and reattached on read) or a HIDDEN-PARTITIONING
    spec dict — ``{"transform": "bucket", "source": col, "n": N}``,
    ``{"transform": "truncate", "source": col, "width": W}`` or
    ``{"transform": "day", "source": ts_col}`` — where the derived
    value keys the directory layout and manifests while the source
    column stays in the data files; predicates on the SOURCE column
    still prune at the manifest walk (:func:`plan_files` evaluates the
    transform on the predicate constant). Each file's footer
    stats become the manifest's bounds, ONE manifest (Avro) describes
    the new files, and a new manifest list + metadata json + version
    hint publish the snapshot. ``mode='append'`` carries the previous
    snapshot's manifests forward; ``'overwrite'`` starts the manifest
    list fresh.

    Concurrency: the metadata publish is a put-if-absent of
    ``v<N>.metadata.json``. A lost race rebases (append: iff the
    schema is unchanged; overwrite: unconditionally) and retries up to
    10 times; ``expected_version=`` turns the commit into a
    compare-and-swap that raises :class:`IcebergConcurrentWriteError`
    instead of rebasing — required when the data being committed was
    derived from that exact base snapshot (compaction, rewrite)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_meta_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
    cur_version = current_metadata_version(path)
    meta = _load_metadata(path, cur_version) if cur_version is not None else None
    now_ms = int(time.time() * 1000)
    snapshot_id = (cur_version or 0) + 1

    evolved_node = None
    if meta is not None:
        cur_node = _current_schema_node(meta)
        existing_schema = iceberg_schema_to_spark(cur_node)
        ex_names = [f.name for f in existing_schema.fields]
        in_names = [f.name for f in df.schema.fields]
        ex_by_name = {f["name"]: f for f in cur_node["fields"]}
        # type diffs on shared columns (spec "Schema Evolution"):
        # a WIDER incoming type is a valid promotion (int->long,
        # float->double, decimal precision up) and evolves the schema
        # under merge_schema; a NARROWER incoming type upcasts the
        # DATA to the table type (SQL store-assignment — no schema
        # change, no flag needed); anything else refuses.
        promotions: dict[str, str] = {}
        upcast_cols: dict[str, T.DataType] = {}
        bad_types: list[str] = []
        for f in df.schema.fields:
            old = ex_by_name.get(f.name)
            if old is None:
                continue
            new_ice = _spark_type_to_ice(f.dataType)
            if new_ice == old["type"]:
                continue
            if _ice_promotion(old["type"], new_ice):
                promotions[f.name] = new_ice
            elif _ice_promotion(new_ice, old["type"]):
                upcast_cols[f.name] = _ice_primitive_to_spark(old["type"])
            else:
                bad_types.append(
                    f"{f.name}: {old['type']} -> {new_ice}"
                )
        if mode == "append" and bad_types:
            raise ValueError(
                f"type change on existing column(s) {bad_types} is not "
                "a valid promotion (int->long, float->double, decimal "
                "precision up) — rewrite the table instead"
            )
        if mode == "append" and upcast_cols:
            from pyspark.sql import functions as F

            df = df.withColumns(
                {c: F.col(c).cast(t) for c, t in upcast_cols.items()}
            )
        if ex_names != in_names or (mode == "append" and promotions):
            if not merge_schema:
                raise ValueError(
                    f"schema mismatch with existing table "
                    f"({in_names} vs {ex_names}"
                    f"{'; promoted: ' + str(sorted(promotions)) if promotions else ''}"
                    "); pass merge_schema=True "
                    "to evolve (append adds columns / promotes types, "
                    "overwrite replaces)"
                )
            if mode == "overwrite":
                evolved_node = spark_schema_to_iceberg(df.schema)
                evolved_node["schema-id"] = len(meta["schemas"])
            else:
                next_id = max(f["id"] for f in cur_node["fields"]) + 1
                # promotions keep the FIELD ID (the spec's invariant:
                # ids never change, only the primitive widens)
                new_fields = [
                    {**f, "type": promotions[f["name"]]}
                    if f["name"] in promotions else f
                    for f in cur_node["fields"]
                ]
                used_phys = _used_physical_names(meta)
                for f in df.schema.fields:
                    if f.name not in ex_by_name:
                        ice = _spark_type_to_ice(f.dataType)
                        if ice is None:
                            raise ValueError(
                                f"unsupported evolved column type for {f.name}"
                            )
                        # spec: new columns take FRESH field ids, ids
                        # of existing columns never change
                        nf = {"id": next_id, "name": f.name,
                              "required": False, "type": ice}
                        if f.name in used_phys:
                            # a dropped/renamed field once wrote this
                            # column name — a fresh physical name keeps
                            # old file data from resurfacing under the
                            # new field id
                            nf["write-name"] = f"c{next_id}_{f.name}"
                        new_fields.append(nf)
                        next_id += 1
                evolved_node = {
                    "type": "struct",
                    "schema-id": len(meta["schemas"]),
                    "fields": new_fields,
                }
        committed = _pspecs_from_meta(meta)
        pspecs = _normalize_pspecs(partition_by)
        if not pspecs:
            pspecs = committed
        elif [(p_["pname"], p_["tstr"]) for p_ in pspecs] != [
            (p_["pname"], p_["tstr"]) for p_ in committed
        ]:
            have = [f"{p_['tstr']}({p_['source']})" for p_ in committed]
            want = [f"{p_['tstr']}({p_['source']})" for p_ in pspecs]
            raise ValueError(
                f"table is partitioned by {have!r}, not {want!r}"
            )
    else:
        pspecs = _normalize_pspecs(partition_by)

    # ---- data files via Spark, staged then moved under data/
    commit_node = evolved_node if evolved_node is not None else (
        _current_schema_node(meta) if meta is not None else None
    )
    phys = _phys_map(commit_node) if commit_node is not None else {}
    entries = _stage_data(df, path, pspecs, phys)

    # ---- one manifest for this commit
    manifest_name = f"manifest-{snapshot_id}-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(_meta_dir(path), manifest_name)
    write_container(manifest_path, _MANIFEST_ENTRY_NODE, entries)

    spec_fields = [
        {
            "name": p_["pname"],
            "transform": p_["tstr"],
            "source-id": [f.name for f in df.schema.fields].index(
                p_["source"]
            ) + 1,
            "field-id": 1000 + i,
        }
        for i, p_ in enumerate(pspecs)
    ]

    # ---- optimistic-concurrency commit loop: build the manifest list
    # and metadata against the CURRENT base, publish with put-if-absent
    # (the manifest written above is base-independent and reused across
    # attempts); on a lost race, append rebases onto the winner's
    # snapshot iff the schema is unchanged, overwrite rebases
    # unconditionally (its intent is "replace whatever is there"), and
    # compare-and-swap callers (expected_version=, e.g. a compaction
    # whose rewrite materialized the OLD snapshot) abort instead of
    # silently dropping the winner's rows.
    def _abort_cleanup():
        # this writer's data files and manifest are invisible (no
        # metadata references them) but would otherwise linger until
        # remove_orphan_files; delete them on a CAS/conflict abort
        unstage(path, [e[1] for e in entries] + [manifest_path])

    if expected_version is not None and (cur_version or 0) != expected_version:
        _abort_cleanup()
        raise IcebergConcurrentWriteError(
            f"table moved to version {cur_version} while this commit was "
            f"built against version {expected_version}; re-run the operation"
        )
    if branch is not None and meta is None:
        raise ValueError("branch writes need an existing table")
    for _attempt in range(10):
        snapshot_id = (cur_version or 0) + 1
        prior: list[tuple] = []
        # a branch write builds on the BRANCH head (falling back to the
        # main head when the branch is being created by this write);
        # main writes build on current-snapshot-id
        base_id = None
        if meta is not None:
            base_id = meta.get("current-snapshot-id")
            if branch is not None:
                ref = (meta.get("refs") or {}).get(branch)
                if ref is not None:
                    if ref.get("type") == "tag":
                        raise ValueError(
                            f"{branch!r} is a TAG (immutable); writes need "
                            "a branch"
                        )
                    base_id = ref["snapshot-id"]
        if mode == "append" and meta is not None and base_id is not None:
            cur_snap = next(
                s for s in meta["snapshots"]
                if s["snapshot-id"] == base_id
            )
            prior = list(read_container(os.path.join(path, cur_snap["manifest-list"])))
        ml_rows = prior + [
            (
                os.path.relpath(manifest_path, path),
                os.path.getsize(manifest_path),
                (meta or {}).get("default-spec-id", 0),
                snapshot_id,
                len(entries),
                0,
                0,
            )
        ]
        ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        ml_path = os.path.join(_meta_dir(path), ml_name)
        write_container(ml_path, _MANIFEST_FILE_NODE, ml_rows)

        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": base_id,
            "timestamp-ms": now_ms,
            "manifest-list": os.path.relpath(ml_path, path),
            # spec: snapshots record the schema they were written
            # under; time travel reads resolve THIS schema
            "schema-id": (
                evolved_node["schema-id"]
                if evolved_node is not None
                else (meta or {}).get("current-schema-id", 0)
            ),
            "summary": {
                "operation": "append" if mode == "append" else "overwrite",
                "added-data-files": str(len(entries)),
            },
        }
        if format_version not in (1, 2):
            raise ValueError(f"unsupported format-version {format_version}")
        new_meta = {
            # an existing table's format version is a table property;
            # appends/overwrites never silently upgrade it
            "format-version": (meta or {}).get("format-version", format_version),
            "table-uuid": (meta or {}).get("table-uuid", str(uuid.uuid4())),
            "location": path,
            "last-updated-ms": now_ms,
            "schemas": (
                (meta or {}).get("schemas", []) + [evolved_node]
                if evolved_node is not None
                else ((meta or {}).get("schemas") or [spark_schema_to_iceberg(df.schema)])
            ),
            "current-schema-id": (
                evolved_node["schema-id"]
                if evolved_node is not None
                else (meta or {}).get("current-schema-id", 0)
            ),
            "partition-specs": (
                (meta or {}).get("partition-specs")
                or [{"spec-id": 0, "fields": spec_fields}]
            ),
            "default-spec-id": (meta or {}).get("default-spec-id", 0),
            "snapshots": ((meta or {}).get("snapshots", [])) + [snapshot],
            # a branch write moves ONLY its ref; main stays put
            "current-snapshot-id": (
                (meta or {}).get("current-snapshot-id")
                if branch is not None
                else snapshot_id
            ),
            "refs": (
                {
                    **((meta or {}).get("refs") or {}),
                    branch: {"snapshot-id": snapshot_id, "type": "branch"},
                }
                if branch is not None
                else ((meta or {}).get("refs") or {})
            ),
            "snapshot-log": ((meta or {}).get("snapshot-log", []))
            + (
                []
                if branch is not None
                else [{"snapshot-id": snapshot_id, "timestamp-ms": now_ms}]
            ),
        }
        meta_file = os.path.join(_meta_dir(path), f"v{snapshot_id}.metadata.json")
        if _put_if_absent(json.dumps(new_meta), meta_file):
            _advance_hint(path, snapshot_id)
            return snapshot_id

        # lost the race — rebase or abort
        os.remove(ml_path)
        if expected_version is not None:
            _abort_cleanup()
            raise IcebergConcurrentWriteError(
                f"concurrent commit at version {snapshot_id}: this commit "
                f"required base version {expected_version}; re-run the "
                "operation against the current snapshot"
            )
        if evolved_node is not None:
            # our evolved schema node was built (and id-numbered)
            # against the OLD base; rebasing would publish a duplicate
            # or mislabeled schema-id — re-run the evolution instead
            _abort_cleanup()
            raise IcebergConcurrentWriteError(
                "concurrent commit raced a schema-evolving write; "
                "re-run it against the current snapshot"
            )
        new_version = current_metadata_version(path)
        new_base = _load_metadata(path, new_version)
        if mode == "append":
            if (
                new_base.get("schemas") != (meta or {}).get("schemas")
                or new_base.get("current-schema-id")
                != (meta or {}).get("current-schema-id")
            ):
                _abort_cleanup()
                raise IcebergConcurrentWriteError(
                    "concurrent commit changed the table schema; re-run "
                    "the append against the current snapshot"
                )
        else:
            # overwrite rebase is only sound if our data files still
            # match the (possibly winner-created) current schema —
            # otherwise B's files would publish under A's schema
            ours = spark_schema_to_iceberg(df.schema)["fields"]
            theirs = _current_schema_node(new_base)["fields"]
            if [(f["name"], f["type"]) for f in ours] != [
                (f["name"], f["type"]) for f in theirs
            ]:
                _abort_cleanup()
                raise IcebergConcurrentWriteError(
                    "concurrent commit established a different schema; "
                    "re-run the overwrite against the current snapshot"
                )
        meta, cur_version = new_base, new_version
    _abort_cleanup()
    raise IcebergConcurrentWriteError(
        "optimistic-concurrency retry budget exhausted (10 attempts)"
    )


# ------------------------------------------------- position deletes

# spec 'Position Delete Files' schema: (file_path, pos) rows sorted by
# (file_path, pos); the spec reserves field ids 2147483546/2147483545.
_POS_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)


def delete_iceberg(spark: SparkSession, path: str, predicate: str) -> int:
    """Row-level DELETE via format-version-2 **position delete files**
    (merge-on-read): matched rows become (data file path, row position)
    rows in a parquet delete file, committed as a new snapshot whose
    manifest carries ``content=1``. NO data file is rewritten — the
    Iceberg analogue of delta_py's deletion vectors, with the same
    scale property (a delete costs O(matched rows), not O(touched
    bytes)) and one structural difference: the deleted-position list is
    itself parquet, so the read-side anti-join scans it with Spark's
    vectorized reader — no custom decode step at all.

    Returns the new snapshot id (the current one unchanged if nothing
    matched). Appends after the delete are unaffected by construction:
    position rows name data files by path, and new files get fresh
    uuid names."""
    from pyspark.sql import functions as F

    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    _require_v2(meta, "position delete files")
    schema = iceberg_schema_to_spark(_current_schema_node(meta))
    live = read_iceberg(spark, path, with_row_identity=True).withColumnRenamed(
        "__abs_file", "__file"
    )
    matched = (
        live.filter(F.expr(predicate))
        .select(
            # manifest paths are table-relative; _metadata is absolute.
            # Recover the relative form through the data/ dir marker.
            F.concat(
                F.lit(_DATA_DIR + "/"),
                F.element_at(F.split(F.col("__file"), "/" + _DATA_DIR + "/"), -1),
            ).alias("file_path"),
            F.col("__pos").alias("pos"),
        )
        .orderBy("file_path", "pos")  # spec: sorted by (file_path, pos)
    )

    # stage the delete file via Spark, then move under data/
    entries = [
        _added(f, content=1)
        for f in stage_parquet(
            matched.coalesce(1), path, _DATA_DIR, None, "{}-deletes.parquet",
            skip_empty=True,
        )
    ]
    if not entries:
        return meta.get("current-snapshot-id")
    now_ms = int(time.time() * 1000)
    snapshot_id = (base_version or 0) + 1  # pinned to the PLANNED base
    return _commit_delete_snapshot(
        path, meta, snapshot_id, now_ms, entries,
        {"added-position-deletes": str(sum(e[4] for e in entries))},
    )


def _commit_delete_snapshot(
    path: str,
    meta: dict,
    snapshot_id: int,
    now_ms: int,
    entries: list[tuple],
    summary_extra: dict[str, str],
    operation: str = "delete",
) -> int:
    """Shared tail of a manifest-appending commit (deletes, and
    add_files imports via ``operation="append"``): write the manifest,
    extend the manifest list, publish metadata json + version hint."""
    manifest_name = f"manifest-{snapshot_id}-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(_meta_dir(path), manifest_name)
    write_container(manifest_path, _MANIFEST_ENTRY_NODE, entries)

    cur_snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    prior = list(read_container(os.path.join(path, cur_snap["manifest-list"])))
    ml_rows = prior + [
        (
            os.path.relpath(manifest_path, path),
            os.path.getsize(manifest_path),
            meta.get("default-spec-id", 0),
            snapshot_id,
            len(entries),
            0,
            0,
        )
    ]
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    ml_path = os.path.join(_meta_dir(path), ml_name)
    write_container(ml_path, _MANIFEST_FILE_NODE, ml_rows)

    snapshot = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now_ms,
        "manifest-list": os.path.relpath(ml_path, path),
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {
            "operation": operation,
            (
                "added-delete-files"
                if operation == "delete"
                else "added-data-files"
            ): str(len(entries)),
            **summary_extra,
        },
    }
    new_meta = dict(meta)
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshots"] = meta.get("snapshots", []) + [snapshot]
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    meta_file = os.path.join(_meta_dir(path), f"v{snapshot_id}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        # The delete rows were computed against the base snapshot; a
        # winner may have rewritten/moved those rows, so rebasing could
        # delete the wrong positions. Abort; caller re-runs the scan.
        # Remove everything this commit staged (delete parquet files,
        # manifest, manifest list) — no metadata references them, and
        # leaving them would orphan files until remove_orphan_files.
        unstage(path, [e[1] for e in entries] + [manifest_path, ml_path])
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {snapshot_id}: delete was "
            "planned against a stale snapshot; re-run it"
        )
    _advance_hint(path, snapshot_id)
    return snapshot_id


def equality_delete_iceberg(
    spark: SparkSession, path: str, keys_df: DataFrame
) -> int:
    """Row-level DELETE via **equality delete files** (spec content=2):
    ``keys_df``'s rows name the values to delete on its columns (which
    must be table columns), written as a parquet delete file with the
    matching ``equality_ids``. The point versus position deletes: NO
    table scan happens at delete time — deleting a billion-row key set
    from a 100 TB table is a metadata commit plus one small parquet
    write, the shape CDC upsert pipelines need. Scoping follows the
    spec's sequence-number rule (via the manifests' added_snapshot_id):
    the delete applies only to rows whose data file predates it, so
    re-inserting a deleted key later works."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    _require_v2(meta, "equality delete files")
    schema = iceberg_schema_to_spark(_current_schema_node(meta))
    name_to_id = {f["name"]: f["id"] for f in _current_schema_node(meta)["fields"]}
    bad = [c for c in keys_df.columns if c not in name_to_id]
    if bad:
        raise ValueError(f"equality-delete columns not in table schema: {bad}")
    for c in keys_df.columns:
        want = schema[c].dataType
        got = keys_df.schema[c].dataType
        if want != got:
            raise ValueError(
                f"equality-delete column {c}: type {got.simpleString()} "
                f"!= table type {want.simpleString()}"
            )
    eq_ids = sorted(name_to_id[c] for c in keys_df.columns)

    entries = _stage_eq_deletes(
        keys_df, path, _phys_map(_current_schema_node(meta)), eq_ids
    )
    now_ms = int(time.time() * 1000)
    snapshot_id = (base_version or 0) + 1  # pinned to the PLANNED base
    if not entries:
        return meta.get("current-snapshot-id")
    return _commit_delete_snapshot(
        path, meta, snapshot_id, now_ms, entries,
        {"added-equality-deletes": str(sum(e[4] for e in entries))},
    )


def _stage_eq_deletes(
    keys: DataFrame, path: str, phys: dict, eq_ids: list[int]
) -> list[tuple]:
    """Stage the distinct rows of ``keys`` as one equality-delete file
    (under PHYSICAL column names, stable across renames); return its
    manifest entry, or none when ``keys`` is empty."""
    from pyspark.sql import functions as F

    keys = keys.select(*[F.col(c).alias(phys.get(c, c)) for c in keys.columns])
    return [
        _added(f, content=2, eq_ids=eq_ids)
        for f in stage_parquet(
            keys.distinct().coalesce(1), path, _DATA_DIR, None,
            "{}-eq-deletes.parquet", skip_empty=True,
        )
    ]


def plan_delete_files(path: str, snapshot_id: int | None = None) -> list[dict]:
    """The snapshot's delete files as
    ``{path, content (1=pos, 2=eq), equality_ids, snapshot_id}`` dicts.
    Never pruned by data predicates — a delete file's rows can target
    any data file."""
    meta = _load_metadata(path)
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots", []) if s["snapshot-id"] == snapshot_id),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in table")
    out = []
    for ml in read_container(os.path.join(path, snap["manifest-list"])):
        for e in read_container(os.path.join(path, ml[0])):
            status, file_path = e[0], e[1]
            content, eq_ids = e[8], list(e[9])
            scope = int(e[10]) if len(e) > 10 else int(ml[3])
            if status != 2 and content in (1, 2):
                out.append(
                    {
                        "path": file_path,
                        "content": content,
                        "equality_ids": eq_ids,
                        "snapshot_id": scope,
                    }
                )
    return out


# ------------------------------------------------- read path

def plan_files(
    path: str,
    snapshot_id: int | None = None,
    eq: dict | None = None,
    ranges: dict | None = None,
) -> list[dict]:
    """The Iceberg scan-planning walk: metadata → manifest list →
    manifests → pruned data-file entries. Pruning happens HERE, on
    manifest metadata only — no data file is listed or opened:

    - ``eq={col: v}``: drop files whose identity-partition value or
      [lower, upper] bounds exclude v;
    - ``ranges={col: (lo, hi)}``: drop files whose bounds are disjoint
      from the closed interval (None = unbounded side).

    Returns [{path, partition, record_count, lower, upper}]."""
    meta = _load_metadata(path)
    snaps = meta.get("snapshots", [])
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise ValueError(
            f"snapshot {snapshot_id} not in table "
            f"(have {[s['snapshot-id'] for s in snaps]})"
        )
    by_spec: dict[int, dict] = {
        sp.get("spec-id", 0): {
            p_["source"]: p_
            for p_ in _pspecs_from_meta(meta, sp.get("spec-id", 0))
        }
        for sp in (meta.get("partition-specs") or [])
    }
    # manifest bounds are keyed by the files' PHYSICAL column names
    schema_node = _current_schema_node(meta)
    phys = _phys_map(schema_node)
    types = {fd["name"]: fd["type"] for fd in schema_node["fields"]}

    def bounds_overlap(lower, upper, col, lo, hi) -> bool:
        # False only when a file's bounds on ``col`` miss [lo, hi]; a
        # column without bounds keeps the file
        pc = phys.get(col, col)
        if pc not in lower or pc not in upper:
            return True
        key = timestamp_key if types.get(col) == "timestamp" else _cmp_key
        return bounds_may_match(
            _dec_bound(lower[pc]), _dec_bound(upper[pc]), lo, hi, key
        )

    out: list[dict] = []
    for ml in read_container(os.path.join(path, snap["manifest-list"])):
        manifest_rel = ml[0]
        by_source = by_spec.get(int(ml[2]), {})  # the manifest's spec
        for e in read_container(os.path.join(path, manifest_rel)):
            (status, file_path, _fmt, part, n_rows, _size, lower,
             upper, content, _eq_ids) = e[:10]
            # rewritten (compacted) manifests carry the ORIGINAL commit
            # per entry (spec: inherited sequence numbers); plain
            # manifests inherit the manifest-list row's added snapshot
            scope = int(e[10]) if len(e) > 10 else int(ml[3])
            if status == 2 or content != 0:  # DELETED entry / delete file
                continue
            keep = True
            for col, v in (eq or {}).items():
                p_ = by_source.get(col)
                if p_ is not None and p_["pname"] in part:
                    # identity compares directly; hidden partitioning
                    # transforms the predicate constant and compares
                    # in partition-value space
                    if part[p_["pname"]] != _transform_value(p_, v):
                        keep = False
                        break
                elif col in part:
                    if part[col] != str(v):
                        keep = False
                        break
                elif not bounds_overlap(lower, upper, col, v, v):
                    keep = False
                    break
            if keep:
                for col, (lo, hi) in (ranges or {}).items():
                    if not bounds_overlap(lower, upper, col, lo, hi):
                        keep = False
                        break
            if keep:
                out.append(
                    {
                        "path": file_path,
                        "partition": part,
                        "record_count": n_rows,
                        "lower": lower,
                        "upper": upper,
                        # equality deletes scope to files from EARLIER
                        # snapshots — per-entry when compacted
                        "snapshot_id": scope,
                        "spec_id": int(ml[2]),
                    }
                )
    return out


def snapshot_at_timestamp(meta: dict, ts_ms) -> int:
    """FOR TIMESTAMP AS OF resolution (spec: snapshot-log): the latest
    MAIN-history snapshot whose timestamp-ms is <= ``ts_ms`` (epoch
    millis, or an ISO-8601 string). Raises if the timestamp predates
    the table."""
    if isinstance(ts_ms, str):
        import datetime

        dt = datetime.datetime.fromisoformat(ts_ms)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        ts_ms = int(dt.timestamp() * 1000)
    best = None
    for e in meta.get("snapshot-log", []):
        if e["timestamp-ms"] <= ts_ms:
            best = e["snapshot-id"]
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} predates the table's first snapshot"
        )
    return best


def _layout_scans(spark, path, meta, node, files) -> list[DataFrame]:
    """Spark scans of ``files`` (plan_files entries) under schema
    ``node``: one per partition layout, each with the schema's logical
    column names (files store PHYSICAL names, stable across renames).
    A file keeps the spec it was written with. Transform and
    unpartitioned layouts are plain file lists; identity layouts
    reattach partition columns from hive dirs under a basePath. A
    snapshot fork (snapshot_iceberg) references files under the
    SOURCE's root, so an identity layout is grouped by hive root (strip
    the filename, one dir per spec field, and the data dir) and each
    root scanned under its own basePath; the virtual _metadata column
    does not survive a union, so a multi-root scan materializes it per
    branch for downstream row identity."""
    from pyspark.sql import functions as F

    schema = iceberg_schema_to_spark(node)
    pairs = [(fd["name"], _physical_name(fd)) for fd in node["fields"]]
    phys_schema = T.StructType(
        [
            T.StructField(pn, f.dataType, f.nullable)
            for (ln, pn), f in zip(pairs, schema.fields)
        ]
    )
    spec_fields = {
        sp.get("spec-id", 0): sp.get("fields") or []
        for sp in (meta.get("partition-specs") or [])
    }
    by_spec: dict[int, list[str]] = defaultdict(list)
    for f in files:
        by_spec[f.get("spec_id", 0)].append(os.path.join(path, f["path"]))

    def to_logical(scan):
        if all(ln == pn for ln, pn in pairs):
            return scan.select(*[ln for ln, _ in pairs])
        return scan.select(*[F.col(pn).alias(ln) for ln, pn in pairs])

    scans = []
    for spec_id, paths in sorted(by_spec.items()):
        fields = spec_fields.get(spec_id, [])
        if not (fields and any(f["transform"] == "identity" for f in fields)):
            scans.append(to_logical(spark.read.schema(phys_schema).parquet(*paths)))
            continue
        roots: dict[str, list[str]] = {}
        for p in paths:
            root = p
            for _ in range(len(fields) + 2):
                root = os.path.dirname(root)
            roots.setdefault(root, []).append(p)
        if len(roots) == 1:
            ((root, grp),) = roots.items()
            scans.append(to_logical(
                spark.read.option("basePath", root)
                .schema(phys_schema)
                .parquet(*grp)
            ))  # partitionBy writes the partition col last; restore order
            continue
        scans.append(reduce(DataFrame.unionByName, [
            spark.read.option("basePath", root)
            .schema(phys_schema)
            .parquet(*grp)
            .select(
                *[F.col(pn).alias(ln) for ln, pn in pairs],
                F.col("_metadata").alias("_metadata"),
            )
            for root, grp in sorted(roots.items())
        ]))
    return scans


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    eq: dict | None = None,
    ranges: dict | None = None,
    with_row_identity: bool = False,
    ref: str | None = None,
    as_of_timestamp=None,
) -> DataFrame:
    """Snapshot (or time-travel) read with manifest-level pruning; the
    surviving file list goes straight to Spark's vectorized parquet
    scan. ``eq``/``ranges`` prune files from metadata but rows are NOT
    re-filtered here — callers keep their own .filter(), which Spark
    then pushes into the (already minimal) scan; identical semantics
    to Iceberg's split planning + Spark residual filters."""
    from pyspark.sql import functions as F

    meta = _load_metadata(path)
    if sum(x is not None for x in (snapshot_id, ref, as_of_timestamp)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id, ref, as_of_timestamp"
        )
    if ref is not None:
        snapshot_id = resolve_ref(meta, ref)
    elif as_of_timestamp is not None:
        # FOR TIMESTAMP AS OF: resolve via the main snapshot-log; the
        # snapshot's recorded schema-id then applies below, so the
        # time-travel view keeps the names/types of its era
        snapshot_id = snapshot_at_timestamp(meta, as_of_timestamp)
    # time travel reads under the SCHEMA THE SNAPSHOT RECORDED (spec:
    # per-snapshot schema-id) — a rename after snapshot N must not
    # relabel N's time-travel view; snapshots predating the stamp fall
    # back to the current schema
    node = _current_schema_node(meta)
    if snapshot_id is not None:
        _snap = next(
            (s for s in meta.get("snapshots", [])
             if s["snapshot-id"] == snapshot_id),
            None,
        )
        if _snap is not None and "schema-id" in _snap:
            node = next(
                (sc for sc in meta.get("schemas", [])
                 if sc.get("schema-id", 0) == _snap["schema-id"]),
                node,
            )
    schema = iceberg_schema_to_spark(node)
    files = plan_files(path, snapshot_id, eq=eq, ranges=ranges)
    if not files:
        return spark.createDataFrame([], schema)
    scans = _layout_scans(spark, path, meta, node, files)

    delete_entries = plan_delete_files(path, snapshot_id)
    pos_dels = [d for d in delete_entries if d["content"] == 1]
    eq_dels = [d for d in delete_entries if d["content"] == 2]
    out_cols = [f.name for f in schema.fields]
    if not delete_entries and not with_row_identity:
        plain = reduce(DataFrame.unionByName, scans)
        # multi-root identity scans carry a materialized _metadata
        if "_metadata" in plain.columns:
            plain = plain.select(*out_cols)
        return plain

    # _metadata only resolves on a raw file-scan relation (it does NOT
    # propagate through a Union), so the row identity (absolute file
    # path, file name, position) and the file's adding snapshot are
    # captured PER LAYOUT GROUP (before any union) and carried through
    # the anti-joins as hidden columns, dropped at the end — or kept,
    # for with_row_identity callers (delete_iceberg) that need stable
    # (file, pos) row addresses.
    file_snap = {os.path.basename(f["path"]): f["snapshot_id"] for f in files}
    snap_map = F.create_map(
        *[x for k, v in file_snap.items() for x in (F.lit(k), F.lit(v))]
    )
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    scan = reduce(
        DataFrame.unionByName,
        [
            sc.withColumns(
                {
                    "__abs_file": F.col("_metadata.file_path"),
                    "__file": fname,
                    "__pos": F.col("_metadata.row_index"),
                    "__snap": snap_map[fname],
                }
            )
            for sc in scans
        ],
    )
    if pos_dels:
        # merge-on-read positions: anti-join the scan against the
        # position-delete rows on (data file name, row position).
        # Delete files are parquet, so BOTH sides are vectorized
        # native scans; file NAMES (uuid-unique) key the join because
        # manifests store table-relative paths while _metadata is
        # absolute.
        pos_df = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
            *[os.path.join(path, d["path"]) for d in pos_dels]
        )
        pos_keyed = pos_df.select(
            F.element_at(F.split("file_path", "/"), -1).alias("__del_file"),
            F.col("pos").alias("__del_pos"),
        )
        del_bytes = sum(
            os.path.getsize(os.path.join(path, d["path"])) for d in pos_dels
        )
        scan = scan.join(
            # broadcast only a provably small deleted-set; a delete-
            # heavy table shuffles (and should then be compacted)
            F.broadcast(pos_keyed) if del_bytes <= 64 * 1024 * 1024 else pos_keyed,
            on=[
                scan["__file"] == F.col("__del_file"),
                scan["__pos"] == F.col("__del_pos"),
            ],
            how="left_anti",
        )

    if eq_dels:
        # merge-on-read equality (spec content=2): a row is deleted if
        # its equality-column values match any delete row written in a
        # LATER snapshot than the row's data file (the spec's sequence-
        # number rule, carried here by the manifests' added_snapshot_id
        # — rows appended after the delete are untouched). Each delete
        # file is scanned natively and stamped with its snapshot; the
        # anti-join is an equi-join on the value columns with a
        # residual __snap < __dsnap filter.
        id_to_name = {f["id"]: f["name"] for f in node["fields"]}
        # delete files store PHYSICAL names (stable across renames)
        id_to_phys = {f["id"]: _physical_name(f) for f in node["fields"]}
        by_cols: dict[tuple, list[dict]] = {}
        for d in eq_dels:
            key = tuple(sorted(d["equality_ids"]))
            by_cols.setdefault(key, []).append(d)
        for key, group in by_cols.items():
            cols = [id_to_name[i] for i in key]
            phys_cols = [id_to_phys[i] for i in key]
            parts = []
            for d in group:
                part = spark.read.parquet(os.path.join(path, d["path"]))
                parts.append(
                    part.select(
                        *[
                            F.col(pc).alias(f"__eq_{c}")
                            for c, pc in zip(cols, phys_cols)
                        ],
                        F.lit(d["snapshot_id"]).alias("__dsnap"),
                    )
                )
            eq_df = parts[0]
            for p in parts[1:]:
                eq_df = eq_df.unionByName(p)
            cond = [scan[c] == F.col(f"__eq_{c}") for c in cols] + [
                scan["__snap"] < F.col("__dsnap")
            ]
            scan = scan.join(F.broadcast(eq_df), on=cond, how="left_anti")
    if with_row_identity:
        return scan.select(*out_cols, "__abs_file", "__pos")
    return scan.select(*out_cols)


# ------------------------------------------------- snapshot expiration

def expire_snapshots(
    path: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Iceberg maintenance: drop old snapshots from table metadata and
    delete data/delete/manifest files referenced ONLY by them (the
    spec's expire-snapshots action — Iceberg's analogue of Delta
    VACUUM, but metadata-driven: reachability is computed from
    manifests, never by listing the data directory).

    Keeps the ``keep_last`` newest snapshots (always including the
    current one); with ``older_than_ms`` also keeps any newer ones.
    Time travel to expired snapshots stops working — exactly the
    Iceberg trade-off. Returns ``{"expired": [ids], "deleted":
    [files]}``."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    snaps = sorted(meta.get("snapshots", []), key=lambda s: s["snapshot-id"])
    if len(snaps) <= keep_last:
        return {"expired": [], "deleted": []}
    cutoff = len(snaps) - max(1, keep_last)
    # named refs (tags/branches) are retention roots: their snapshots
    # never expire while the ref exists (the spec's ref-aware expire)
    ref_heads = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    expired, kept = [], []
    for i, s in enumerate(snaps):
        old_enough = (
            older_than_ms is None or s["timestamp-ms"] < older_than_ms
        )
        if (
            i < cutoff
            and old_enough
            and s["snapshot-id"] != meta.get("current-snapshot-id")
            and s["snapshot-id"] not in ref_heads
        ):
            expired.append(s)
        else:
            kept.append(s)
    if not expired:
        return {"expired": [], "deleted": []}

    def _referenced(snap_list):
        files = set()
        manifests = set()
        for s in snap_list:
            ml_rel = s["manifest-list"]
            manifests.add(ml_rel)
            for ml in read_container(os.path.join(path, ml_rel)):
                manifests.add(ml[0])
                for e in read_container(os.path.join(path, ml[0])):
                    if e[0] != 2:
                        files.add(e[1])
        return files, manifests

    live_files, live_manifests = _referenced(kept)
    dead_files, dead_manifests = _referenced(expired)
    to_delete = sorted(
        (dead_files - live_files) | (dead_manifests - live_manifests)
    )
    if not dry_run:
        # Publish the trimmed metadata FIRST (put-if-absent — a
        # concurrent commit aborts the expiration before anything is
        # destroyed), and only then remove the now-unreachable files.
        new_meta = dict(meta)
        new_meta["snapshots"] = kept
        expired_ids = {s["snapshot-id"] for s in expired}
        new_meta["snapshot-log"] = [
            e for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] not in expired_ids
        ]
        version = (base_version or 0) + 1  # pinned to the PLANNED base
        meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
        if not _put_if_absent(json.dumps(new_meta), meta_file):
            raise IcebergConcurrentWriteError(
                f"concurrent commit at version {version}: snapshot "
                "expiration planned against a stale snapshot; re-run it"
            )
        _advance_hint(path, version)
        root = os.path.abspath(path) + os.sep
        for rel in to_delete:
            full = os.path.join(path, rel)
            # a snapshot fork (snapshot_iceberg) references the source
            # table's files ABSOLUTELY; expiring the fork's snapshots
            # must never delete outside the fork's own directory
            if not os.path.abspath(full).startswith(root):
                continue
            try:
                os.remove(full)
            except FileNotFoundError:
                pass
    return {
        "expired": [s["snapshot-id"] for s in expired],
        "deleted": to_delete,
    }


# ------------------------------------------------- compaction

def rewrite_data_files(
    spark: SparkSession,
    path: str,
    target_parts: int | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Iceberg maintenance twin of Delta OPTIMIZE: materialize the
    current snapshot (all merge-on-read position/equality deletes
    APPLIED) into fresh data files and commit them as a new snapshot
    with an empty delete-file stack — the "purge" point that keeps the
    read-side anti-join layers from accumulating forever. Prior
    snapshots remain readable until :func:`expire_snapshots`.

    ``zorder_by`` range-partitions and sorts the rewrite on the Morton
    interleave of the given columns (reusing delta_py's encoder), so
    each output file covers a tight hyper-rectangle and the manifests'
    per-column bounds make :func:`plan_files` ``ranges=`` pruning
    selective on multi-column predicates — Iceberg's sort-order
    rewrite.

    Returns ``{"snapshot_id", "files_before", "delete_files_before",
    "files_after"}``."""
    files_before = plan_files(path)
    dels_before = plan_delete_files(path)
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)

    def _spec_arg(p_):
        if p_["kind"] == "identity":
            return p_["source"]
        if p_["kind"] == "bucket":
            return {"transform": "bucket", "source": p_["source"],
                    "n": p_["param"]}
        if p_["kind"] == "truncate":
            return {"transform": "truncate", "source": p_["source"],
                    "width": p_["param"]}
        return {"transform": p_["kind"], "source": p_["source"]}

    part_arg = [_spec_arg(p_) for p_ in _pspecs_from_meta(meta)] or None

    df = read_iceberg(spark, path)
    if zorder_by:
        from .delta_py import _morton_key

        n_out = target_parts or 8
        df = (
            _morton_key(df, zorder_by)
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif target_parts:
        df = df.repartition(target_parts)
    # CAS commit: the rewrite materialized THIS base snapshot; if any
    # writer lands in between, rebasing the overwrite would silently
    # drop their rows — abort instead and let the caller re-run.
    snap = write_iceberg(
        df, path, mode="overwrite", partition_by=part_arg,
        expected_version=base_version,
    )
    return {
        "snapshot_id": snap,
        "files_before": len(files_before),
        "delete_files_before": len(dels_before),
        "files_after": len(plan_files(path)),
    }


def rewrite_manifests(path: str) -> dict:
    """Manifest compaction (Iceberg's ``rewriteManifests`` action):
    merge the current snapshot's per-commit manifests into ONE data
    manifest (plus one delete manifest when delete files exist) and
    publish the result as a metadata-only "replace" snapshot. No data
    file moves; only the metadata tree shrinks.

    Why it matters at scale: this layer writes one manifest per commit,
    so a long-lived table's scan planning walks O(commits) small Avro
    files. After compaction, :func:`plan_files` opens O(1) manifests no
    matter how many commits built the table — the spec's answer to
    metadata sprawl.

    Correctness subtlety: equality-delete scoping orders data files vs
    delete files by the manifest-list's ``added_snapshot_id``, which a
    merged manifest can no longer represent. Compacted manifests
    therefore carry each entry's ORIGINAL commit as a per-entry
    ``added_snapshot_id`` (``_MANIFEST_ENTRY_NODE_V2`` — the spec's
    inherited-sequence-number mechanism), and both
    :func:`plan_files` / :func:`plan_delete_files` prefer the
    per-entry value. Tests pin that delete scoping is identical before
    and after compaction.

    Concurrency: compare-and-swap against the planned base version (a
    concurrent commit aborts the rewrite; nothing is lost — the
    staged manifests are removed). Returns ``{"snapshot_id",
    "manifests_before", "manifests_after"}``."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        raise ValueError(f"{path} has no snapshots")
    cur_snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == cur_id
    )
    mls = list(read_container(os.path.join(path, cur_snap["manifest-list"])))
    if len(mls) <= 1:
        return {
            "snapshot_id": cur_id,
            "manifests_before": len(mls),
            "manifests_after": len(mls),
        }

    # one compacted manifest per (partition spec, data/delete kind):
    # a manifest belongs to exactly one spec (the spec-evolution rule),
    # and delete files stay out of data manifests per the spec
    grouped: dict[tuple[int, bool], list[tuple]] = {}
    for ml in mls:
        for e in read_container(os.path.join(path, ml[0])):
            scope = int(e[10]) if len(e) > 10 else int(ml[3])
            e10 = tuple(e[:10])
            if e10[0] == 2:  # DELETED entry: drop on rewrite
                continue
            # carried-forward entries are EXISTING (status 0) + scope
            row = (0,) + e10[1:] + (scope,)
            grouped.setdefault((int(ml[2]), e10[8] == 0), []).append(row)

    snapshot_id = (base_version or 0) + 1
    now_ms = int(time.time() * 1000)
    staged: list[str] = []

    def _stage_manifest(entries):
        name = f"manifest-{snapshot_id}-{uuid.uuid4().hex}.avro"
        mp = os.path.join(_meta_dir(path), name)
        write_container(mp, _MANIFEST_ENTRY_NODE_V2, entries)
        staged.append(mp)
        return mp

    ml_rows = []
    for (spec_id, _is_data), entries in sorted(grouped.items()):
        mp = _stage_manifest(entries)
        ml_rows.append(
            (
                os.path.relpath(mp, path),
                os.path.getsize(mp),
                spec_id,
                snapshot_id,
                0,
                len(entries),
                0,
            )
        )
    ml_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    ml_path = os.path.join(_meta_dir(path), ml_name)
    write_container(ml_path, _MANIFEST_FILE_NODE, ml_rows)
    staged.append(ml_path)

    snapshot = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now_ms,
        "manifest-list": os.path.relpath(ml_path, path),
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {
            "operation": "replace",
            "manifests-rewritten": str(len(mls)),
            "added-data-files": "0",
        },
    }
    new_meta = dict(meta)
    new_meta["last-updated-ms"] = now_ms
    new_meta["snapshots"] = meta.get("snapshots", []) + [snapshot]
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    meta_file = os.path.join(_meta_dir(path), f"v{snapshot_id}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        unstage(path, staged)
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {snapshot_id}: re-run "
            "rewrite_manifests against the current snapshot"
        )
    _advance_hint(path, snapshot_id)
    return {
        "snapshot_id": snapshot_id,
        "manifests_before": len(mls),
        "manifests_after": len(ml_rows),
    }


def upgrade_format_version(path: str, to_version: int = 2) -> int:
    """Format-version migration (spec: v1 -> v2 is metadata-only — v2
    readers must read v1 tables, and upgrading adds no files). Commits
    a metadata-only version bump via put-if-absent; no new snapshot.
    Unlocks row-level deletes on tables created with
    ``format_version=1``. Returns the committed metadata version (the
    current one when already at the target)."""
    if to_version != 2:
        raise ValueError("only v1 -> v2 migration exists in the spec")
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    cur = meta.get("format-version", 2)
    if cur == to_version:
        return base_version
    if cur > to_version:
        raise ValueError(f"cannot downgrade format-version {cur} -> {to_version}")
    new_meta = dict(meta)
    new_meta["format-version"] = to_version
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run the upgrade"
        )
    _advance_hint(path, version)
    return version


def table_history_iceberg(path: str) -> list[dict]:
    """The audit surface (Iceberg twin of delta_py.table_history):
    one record per snapshot, newest first, from the snapshot list's
    own summaries — ``{snapshot_id, parent_snapshot_id, timestamp_ms,
    operation, summary, on_main}`` (``on_main`` marks snapshots in the
    main snapshot-log; branch-only snapshots show False)."""
    meta = _load_metadata(path)
    main_ids = {e["snapshot-id"] for e in meta.get("snapshot-log", [])}
    out = []
    for s_ in meta.get("snapshots", []):
        summary = dict(s_.get("summary") or {})
        out.append(
            {
                "snapshot_id": s_["snapshot-id"],
                "parent_snapshot_id": s_.get("parent-snapshot-id"),
                "timestamp_ms": s_.get("timestamp-ms"),
                "operation": summary.pop("operation", None),
                "summary": summary,
                "on_main": s_["snapshot-id"] in main_ids
                or s_["snapshot-id"] == meta.get("current-snapshot-id"),
            }
        )
    return sorted(out, key=lambda r: -r["snapshot_id"])


def create_ref(
    path: str, name: str, ref_type: str = "tag",
    snapshot_id: int | None = None,
) -> int:
    """Create a named ref (spec v2 'refs'): a TAG pins a snapshot
    immutably ("the training-data freeze for run 7"); a BRANCH is a
    movable head that :func:`write_iceberg(branch=...)` advances
    independently of main. Both are retention roots for
    :func:`expire_snapshots`. Metadata-only put-if-absent commit;
    returns the committed metadata version."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
    ):
        raise ValueError(f"snapshot {snapshot_id} not in table")
    refs = dict(meta.get("refs") or {})
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    new_meta = dict(meta)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run create_ref"
        )
    _advance_hint(path, version)
    return version


def drop_ref(path: str, name: str) -> int:
    """Remove a tag/branch (its snapshots become expirable again)."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise KeyError(f"no ref named {name!r}")
    del refs[name]
    new_meta = dict(meta)
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run drop_ref"
        )
    _advance_hint(path, version)
    return version


def resolve_ref(meta: dict, ref: str) -> int:
    refs = meta.get("refs") or {}
    if ref not in refs:
        raise KeyError(
            f"no ref named {ref!r} (have {sorted(refs)})"
        )
    return refs[ref]["snapshot-id"]


def fast_forward_main(path: str, branch: str) -> int:
    """Fast-forward MAIN to a branch head (the promote step of a
    write-audit-publish flow on branches): allowed only when main's
    current snapshot is an ANCESTOR of the branch head (walked via
    parent-snapshot-id), so no committed main history is discarded.
    Metadata-only CAS commit; the branch ref remains."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    head = resolve_ref(meta, branch)
    main = meta.get("current-snapshot-id")
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    cur = head
    seen = []
    while cur is not None:
        seen.append(cur)
        if cur == main:
            break
        cur = by_id.get(cur, {}).get("parent-snapshot-id")
    else:
        raise ValueError(
            f"main ({main}) is not an ancestor of branch {branch!r} "
            f"head ({head}); cannot fast-forward"
        )
    if cur != main:
        raise ValueError(
            f"main ({main}) is not an ancestor of branch {branch!r} "
            f"head ({head}); cannot fast-forward"
        )
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = head
    new_meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": head, "timestamp-ms": int(time.time() * 1000)}
    ]
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run fast_forward"
        )
    _advance_hint(path, version)
    return version


def evolve_partition_spec(path: str, partition_by) -> int:
    """Iceberg PARTITION SPEC EVOLUTION — the format's headline
    advantage over hive layouts: change how NEW data is partitioned in
    ONE metadata-only commit. A fresh spec (new spec-id) becomes the
    table default; existing files keep the spec they were written
    with, and reads handle both (`read_iceberg` builds one scan per
    layout group; `plan_files` prunes each file under ITS spec — old
    files by their partition tuples, new files by column bounds, and
    vice versa). No data is rewritten, ever: repartitioning a 100 TB
    table is this one commit plus time.

    ``partition_by`` takes the same shapes as ``write_iceberg`` (a
    column name, a hidden-transform dict, or a list of either);
    ``None`` / ``[]`` evolves to UNPARTITIONED (new files land flat).
    Returns the new metadata version."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    pspecs = _normalize_pspecs(partition_by)
    committed = _pspecs_from_meta(meta)
    if [(p_["pname"], p_["tstr"]) for p_ in pspecs] == [
        (p_["pname"], p_["tstr"]) for p_ in committed
    ]:
        return base_version  # already the default spec
    node = _current_schema_node(meta)
    name_to_id = {f["name"]: f["id"] for f in node["fields"]}
    missing = [p_["source"] for p_ in pspecs if p_["source"] not in name_to_id]
    if missing:
        raise ValueError(f"partition source column(s) {missing} not in schema")
    old_specs = meta.get("partition-specs") or [{"spec-id": 0, "fields": []}]
    next_spec_id = max(sp.get("spec-id", 0) for sp in old_specs) + 1
    # spec: partition field-ids are unique ACROSS specs
    used_fids = [
        f.get("field-id", 999)
        for sp in old_specs
        for f in (sp.get("fields") or [])
    ]
    next_fid = max(used_fids, default=999) + 1
    new_spec = {
        "spec-id": next_spec_id,
        "fields": [
            {
                "name": p_["pname"],
                "transform": p_["tstr"],
                "source-id": name_to_id[p_["source"]],
                "field-id": next_fid + i,
            }
            for i, p_ in enumerate(pspecs)
        ],
    }
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["partition-specs"] = old_specs + [new_spec]
    new_meta["default-spec-id"] = next_spec_id
    new_meta["last-updated-ms"] = now_ms
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run the spec "
            "evolution"
        )
    _advance_hint(path, version)
    return version


def rollback_iceberg(path: str, snapshot_id: int) -> int:
    """Iceberg's ``rollback_to_snapshot`` procedure — the format twin
    of Delta RESTORE: move ``current-snapshot-id`` back to an existing
    snapshot in ONE metadata-only commit. History is preserved (the
    rolled-over snapshots stay in the list, still time-travelable and
    auditable; ``expire_snapshots`` reclaims them later if asked), so
    the mis-step costs one metadata write to undo regardless of how
    much data it touched. The next append builds on the rolled-back
    snapshot's manifest list — the bad snapshot's files simply stop
    being referenced by main."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if snapshot_id not in by_id:
        raise ValueError(
            f"snapshot {snapshot_id} not in table "
            f"(have {sorted(by_id)})"
        )
    if meta.get("current-snapshot-id") == snapshot_id:
        return base_version
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    new_meta["last-updated-ms"] = now_ms
    version = (base_version or 0) + 1
    meta_file = os.path.join(_meta_dir(path), f"v{version}.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(
            f"concurrent commit at version {version}: re-run the rollback"
        )
    _advance_hint(path, version)
    return version


def remove_orphan_files(
    path: str, older_than_hours: float = 72.0, dry_run: bool = False
) -> list[str]:
    """Iceberg's remove-orphan-files action: delete files under
    ``data/`` referenced by NO snapshot (debris from writers that
    crashed between staging and metadata publication). Only files
    older than ``older_than_hours`` (mtime) are removed, so an
    in-flight writer's freshly staged files survive — the same safety
    window the reference action uses. Returns the deleted
    table-relative paths."""
    meta = _load_metadata(path)
    referenced: set[str] = set()
    for s in meta.get("snapshots", []):
        for ml in read_container(os.path.join(path, s["manifest-list"])):
            for e in read_container(os.path.join(path, ml[0])):
                referenced.add(e[1])
    cutoff = time.time() - older_than_hours * 3600.0
    deleted = []
    data_root = os.path.join(path, _DATA_DIR)
    for root, dirs, files in os.walk(data_root):
        dirs[:] = [d for d in dirs if not d.startswith(".staging")]
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            if rel in referenced:
                continue
            if os.path.getmtime(full) > cutoff:
                continue
            if not dry_run:
                os.remove(full)
            deleted.append(rel)
    return sorted(deleted)


# ------------------------------------------------- change data feed

def _snapshot_changes(path: str, v: int, rewrites_ok: bool = False) -> list[dict]:
    """The files snapshot ``v`` ADDED, walked from its own metadata
    file and the manifests it added (``added_snapshot_id == v``):
    ``[{path, partition, spec_id, content (0 data, 1 position deletes,
    2 equality deletes), equality_ids}]``. Empty when metadata version
    v made no snapshot (a maintenance-only commit such as an expiry)
    or only compacted manifests. An overwrite after the table-creating
    snapshot raises unless ``rewrites_ok``: a wholesale rewrite is not
    row-derivable. A snapshot whose manifests expire_snapshots deleted
    raises too — its changes are lost (Kafka's failOnDataLoss stance),
    never silently skipped."""
    if not os.path.exists(os.path.join(_meta_dir(path), f"v{v}.metadata.json")):
        return []
    snap = next(
        (s for s in _load_metadata(path, v).get("snapshots", [])
         if s["snapshot-id"] == v),
        None,
    )
    if snap is None:
        return []
    summary = snap.get("summary", {})
    op = summary.get("operation", "append")
    if op == "replace" and summary.get("manifests-rewritten"):
        return []  # manifest compaction: zero row-level changes
    if op in ("overwrite", "replace") and v != 1 and not rewrites_ok:
        raise ValueError(
            f"snapshot {v} of {path} is an {op}, not append-only: its "
            "row-level changes are not derivable from metadata (an append "
            "stream can set ignoreChanges=true to stream only newly added "
            "data files)"
        )
    try:
        manifests = list(read_container(os.path.join(path, snap["manifest-list"])))
    except FileNotFoundError:
        raise ValueError(
            f"snapshot {v} of {path} was expired before its changes were "
            "read (data loss); a stream must restart with a fresh "
            "starting_snapshot"
        )
    return [
        {
            "path": e[1],
            "partition": dict(e[3] or {}),
            "spec_id": int(ml[2]),
            "content": e[8],
            "equality_ids": list(e[9]),
        }
        for ml in manifests
        if int(ml[3]) == v  # not a manifest carried forward
        for e in read_container(os.path.join(path, ml[0]))
        if e[0] == 1  # ADDED
    ]


def table_changes_iceberg(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Derived CDC between snapshots (the Iceberg twin of
    delta_py.table_changes), planned per snapshot by
    :func:`_snapshot_changes` like the CDC stream: append snapshots
    yield their added data files' rows as 'insert'; delete snapshots
    yield 'delete' rows — position deletes via the delete file's
    (file_path, pos) rows joined back to the snapshot's data files,
    equality deletes via the value rows joined on the equality columns
    (scoped to earlier-snapshot data files, mirroring the read path).
    Data files are scanned per partition layout like read_iceberg, so
    identity partition values and a fork's source-rooted files resolve.
    Overwrite snapshots (operation 'overwrite'/'replace') are refused —
    a wholesale rewrite is not row-derivable. Returns table columns +
    _change_type + _commit_snapshot."""
    from pyspark.sql import functions as F

    meta = _load_metadata(path)
    if to_snapshot is None:
        to_snapshot = meta.get("current-snapshot-id")
    node = _current_schema_node(meta)
    schema = iceberg_schema_to_spark(node)
    cols = [f.name for f in schema.fields]
    id_to_name = {f["id"]: f["name"] for f in node["fields"]}
    # delete files store PHYSICAL names (stable across renames)
    id_to_phys = {f["id"]: _physical_name(f) for f in node["fields"]}

    def scan(files):
        return reduce(DataFrame.unionByName, _layout_scans(spark, path, meta, node, files))

    def tagged(df, change_type, sid):
        return df.select(
            *cols,
            F.lit(change_type).alias("_change_type"),
            F.lit(sid).alias("_commit_snapshot"),
        )

    frames = []
    for sid in range(from_snapshot, to_snapshot + 1):
        added = _snapshot_changes(path, sid)
        data_new = [e for e in added if e["content"] == 0]
        pos_new = [e for e in added if e["content"] == 1]
        eq_new = [e for e in added if e["content"] == 2]
        if data_new:
            frames.append(tagged(scan(data_new), "insert", sid))
        # the deleted rows live in the snapshot's (earlier) data files
        live = plan_files(path, sid) if pos_new or eq_new else []
        if pos_new:
            pos_df = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[os.path.join(path, e["path"]) for e in pos_new]
            ).select(
                F.element_at(F.split("file_path", "/"), -1).alias("__f"),
                F.col("pos").alias("__p"),
            )
            dscan = reduce(DataFrame.unionByName, [
                sc.withColumns({
                    "__f": F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ),
                    "__p": F.col("_metadata.row_index"),
                })
                for sc in _layout_scans(spark, path, meta, node, live)
            ])
            frames.append(tagged(
                dscan.join(F.broadcast(pos_df), on=["__f", "__p"], how="leftsemi"),
                "delete", sid,
            ))
        earlier = [f for f in live if f["snapshot_id"] < sid]
        if eq_new and earlier:
            dscan = scan(earlier)
            for e in eq_new:
                eq_cols = [id_to_name[i] for i in e["equality_ids"]]
                keys = spark.read.parquet(os.path.join(path, e["path"])).select(
                    *[
                        F.col(id_to_phys[i]).alias(f"__k_{c}")
                        for i, c in zip(e["equality_ids"], eq_cols)
                    ]
                )
                cond = [dscan[c] == F.col(f"__k_{c}") for c in eq_cols]
                frames.append(tagged(
                    dscan.join(F.broadcast(keys), on=cond, how="leftsemi"),
                    "delete", sid,
                ))

    if not frames:
        out_schema = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_snapshot", T.IntegerType(), False),
            ]
        )
        return spark.createDataFrame([], out_schema)
    return reduce(DataFrame.unionByName, frames)


# ------------------------------------------------- add_files (import)

def add_files_iceberg(path: str, files: list[str]) -> int:
    """Zero-copy IMPORT of existing parquet files (Iceberg's
    ``add_files`` procedure): each file hard-links into ``data/``
    (copy fallback across filesystems), its footer statistics become
    the manifest bounds, and ONE append snapshot publishes them — no
    row is read or rewritten, so importing a 100 TB directory costs
    metadata only. The migration on-ramp: existing parquet lakes
    become governed tables without a rewrite.

    Partitioned tables (round 6 — hive-laid-out lakes are the normal
    case): every spec field must be an IDENTITY transform, and each
    imported file's own path must carry one hive ``col=value`` segment
    per spec field — the same contract as Iceberg's ``add_files`` over
    a Hive location. The parsed tuple lands in the manifest (so
    pruning works) and the file hard-links under the matching
    ``data/col=value/`` directory (so the identity-layout scan
    reattaches the column on read). Hidden transforms (bucket /
    truncate / day) refuse: a hive path carries source values, not
    derived ones — write through write_iceberg instead.

    Data files OMIT identity partition columns (this layer's layout,
    matching hive); every file's parquet schema must carry exactly the
    table's remaining (physical) column set. Returns the new snapshot
    id."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    pspecs = _pspecs_from_meta(meta)
    hidden = [p_["pname"] for p_ in pspecs if p_["tstr"] != "identity"]
    if hidden:
        raise NotImplementedError(
            f"add_files_iceberg: hidden-transform partition fields "
            f"{hidden} cannot be parsed from hive paths (they carry "
            "derived values); write through write_iceberg"
        )
    node = _current_schema_node(meta)
    schema = iceberg_schema_to_spark(node)
    phys = _phys_map(node)
    pnames = [p_["pname"] for p_ in pspecs]
    want = {phys.get(f.name, f.name) for f in schema.fields if f.name not in pnames}

    def _hive_tuple(src: str) -> dict[str, str]:
        segs = [hive_values(c) for c in src.split(os.sep)[:-1] if "=" in c]
        part: dict[str, str] = {}
        for pn in pnames:
            hits = [seg[pn] for seg in segs if pn in seg]
            if len(hits) != 1:
                raise ValueError(
                    f"add_files_iceberg: {src} must carry exactly one "
                    f"hive '{pn}=<value>' path segment (found "
                    f"{len(hits)}) — the table partitions by {pnames}"
                )
            part[pn] = hits[0]
        return part

    tuples = [_hive_tuple(src) for src in files]
    footers = [read_footer(src) for src in files]
    for src, footer in zip(files, footers):
        have = set(footer.schema.names)
        if have != want:
            raise ValueError(
                f"add_files_iceberg: {src} columns {sorted(have)} != "
                f"table (physical) data columns {sorted(want)}"
            )

    now_ms = int(time.time() * 1000)
    snapshot_id = (base_version or 0) + 1
    entries = []
    try:
        for src, part, footer in zip(files, tuples, footers):
            rel = os.path.join(
                _DATA_DIR, hive_dir(part), f"{uuid.uuid4().hex}-imported.parquet"
            )
            entries.append(_added(claim_parquet(src, path, rel, part, footer), want))
    except BaseException:
        unstage(path, [e[1] for e in entries])
        raise
    if not entries:
        return meta.get("current-snapshot-id")
    return _commit_delete_snapshot(
        path, meta, snapshot_id, now_ms, entries,
        {"operation-detail": "add-files", "imported-files": str(len(files))},
        operation="append",
    )


def snapshot_iceberg(src_path: str, dst_path: str) -> int:
    """Iceberg's SNAPSHOT procedure — a zero-copy FORK: a new table
    whose first snapshot references the SOURCE's current data files by
    ABSOLUTE path (no byte copied; the Iceberg twin of Delta SHALLOW
    CLONE). The fork owns its own metadata tree from here: appends,
    overwrites, row-level deletes, upserts, and compaction land in the
    fork's directory and the source never sees them; the fork pins the
    source AS OF snapshot time, so later source commits don't appear.
    ``expire_snapshots`` on the fork never deletes outside the fork's
    own directory (absolute references are skipped by construction),
    mirroring the procedure's parent-table guarantee.

    Schema, partition specs (identity AND hidden transforms), and the
    current schema-id carry over verbatim; the identity-layout scan
    reads the source-rooted hive dirs under their own basePath (the
    multi-root machinery `read_iceberg` shares with spec evolution).

    Refused while the source has live DELETE files (position or
    equality): flattening them into the fork's single base snapshot
    would break the spec's sequence scoping (an equality delete does
    not apply to files of its OWN snapshot) — compact the source
    first. Returns the fork's snapshot id (1)."""
    src_meta = _load_metadata(src_path)
    if current_metadata_version(dst_path) is not None:
        raise ValueError(f"destination {dst_path} already exists")
    if plan_delete_files(src_path):
        raise ValueError(
            "source has live delete files (position/equality); compact "
            "it first (rewrite_data_files) — a fork's single base "
            "snapshot cannot carry the spec's delete-sequence scoping"
        )
    files = plan_files(src_path)
    now_ms = int(time.time() * 1000)
    os.makedirs(_meta_dir(dst_path), exist_ok=True)
    os.makedirs(os.path.join(dst_path, _DATA_DIR), exist_ok=True)

    by_spec: dict[int, list[tuple]] = {}
    for f in files:
        abs_p = os.path.abspath(os.path.join(src_path, f["path"]))
        by_spec.setdefault(f["spec_id"], []).append(
            (
                1,  # ADDED
                abs_p,
                "PARQUET",
                f["partition"],
                f["record_count"],
                os.path.getsize(abs_p),
                f["lower"],
                f["upper"],
                0,  # content: DATA
                [],  # equality_ids
            )
        )
    ml_rows = []
    for spec_id, entries in sorted(by_spec.items()):
        mname = f"manifest-1-{uuid.uuid4().hex}.avro"
        mpath = os.path.join(_meta_dir(dst_path), mname)
        write_container(mpath, _MANIFEST_ENTRY_NODE, entries)
        ml_rows.append(
            (
                os.path.relpath(mpath, dst_path),
                os.path.getsize(mpath),
                spec_id,
                1,  # added in the fork's snapshot 1
                len(entries),
                0,
                0,
            )
        )
    ml_name = f"snap-1-{uuid.uuid4().hex}.avro"
    ml_path = os.path.join(_meta_dir(dst_path), ml_name)
    write_container(ml_path, _MANIFEST_FILE_NODE, ml_rows)
    snapshot = {
        "snapshot-id": 1,
        "parent-snapshot-id": None,
        "timestamp-ms": now_ms,
        "manifest-list": os.path.relpath(ml_path, dst_path),
        "schema-id": src_meta.get("current-schema-id", 0),
        "summary": {
            "operation": "append",
            "operation-detail": "snapshot-table",
            "source-table": src_path,
            "added-data-files": str(len(files)),
        },
    }
    new_meta = {
        "format-version": src_meta.get("format-version", 2),
        "table-uuid": str(uuid.uuid4()),
        "location": dst_path,
        "last-updated-ms": now_ms,
        "schemas": src_meta.get("schemas", []),
        "current-schema-id": src_meta.get("current-schema-id", 0),
        "partition-specs": src_meta.get("partition-specs") or [
            {"spec-id": 0, "fields": []}
        ],
        "default-spec-id": src_meta.get("default-spec-id", 0),
        "snapshots": [snapshot],
        "current-snapshot-id": 1,
        "refs": {},
        "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": now_ms}],
    }
    meta_file = os.path.join(_meta_dir(dst_path), "v1.metadata.json")
    if not _put_if_absent(json.dumps(new_meta), meta_file):
        raise IcebergConcurrentWriteError(f"fork raced at {dst_path}")
    _advance_hint(dst_path, 1)
    return 1


# ------------------------------------------------- upsert (CDC merge)

def upsert_iceberg(
    spark: SparkSession, path: str, source: DataFrame, on: list[str]
) -> int:
    """ONE-COMMIT UPSERT (the Flink-CDC-into-Iceberg shape): a single
    snapshot carries BOTH an equality-delete file on the merge keys
    AND the source rows as new data files. The spec's sequence
    scoping makes it correct by construction: the equality delete
    applies only to data files from STRICTLY EARLIER snapshots, so it
    erases old versions of the keys while the same snapshot's new
    files — which carry the fresh rows — are untouched. No table scan
    at write time: upsert cost is O(source), whatever the table size.

    Partitioned tables: the new data files are written under the
    table's committed spec (identity AND hidden transforms) with their
    partition tuples in the manifest, so partition pruning keeps
    working; the equality-delete file is GLOBAL (no partition tuple —
    the spec's unpartitioned-spec global delete), which is exactly what
    makes a key that MOVES partitions correct: the delete erases the
    old row wherever it lives, the new file carries the row in its new
    partition. Returns the new snapshot id."""
    base_version = current_metadata_version(path)
    meta = _load_metadata(path, base_version)
    pspecs = _pspecs_from_meta(meta)
    schema = iceberg_schema_to_spark(_current_schema_node(meta))
    name_to_id = {f["name"]: f["id"] for f in _current_schema_node(meta)["fields"]}
    missing = [k for k in on if k not in source.columns]
    if missing:
        raise ValueError(f"merge keys missing from source: {missing}")
    if [f.name for f in schema.fields] != list(source.columns):
        raise ValueError(
            f"source columns {list(source.columns)} != table columns "
            f"{[f.name for f in schema.fields]}"
        )
    eq_ids = sorted(name_to_id[k] for k in on)

    now_ms = int(time.time() * 1000)
    snapshot_id = (base_version or 0) + 1  # pinned to the PLANNED base
    # the equality-delete file holds just the distinct source keys; the
    # data files land under the table's committed partition layout
    phys = _phys_map(_current_schema_node(meta))
    entries = _stage_eq_deletes(source.select(*on), path, phys, eq_ids)
    entries += _stage_data(source, path, pspecs, phys)
    if not entries:
        return meta.get("current-snapshot-id")
    return _commit_delete_snapshot(
        path, meta, snapshot_id, now_ms, entries,
        {"operation-detail": "upsert", "merge-keys": ",".join(on)},
    )
