"""Delta Lake deletion vectors (protocol table feature
``deletionVectors``) — merge-on-read DELETE.

Public-protocol shapes implemented here
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md,
"Deletion Vectors" + "Deletion Vector Descriptor Schema"):

- the descriptor carried on an ``add`` action::

      {"storageType": "u" | "i",
       "pathOrInlineDv": <z85 uuid [with prefix]> | <z85 bitmap>,
       "offset": <int, absent for "i">,
       "sizeInBytes": <bitmap byte size>,
       "cardinality": <number of deleted rows>}

  ``"u"`` stores the bitmap in a sidecar file
  ``deletion_vector_<uuid>.bin`` under the table root (the uuid is
  z85-encoded in the descriptor's last 20 chars, any leading chars
  are a directory prefix); ``"i"`` inlines the z85-encoded bitmap in
  the descriptor itself (small DVs — saves a file per tiny delete).

- the sidecar file layout: 1 format-version byte (``1``), then each
  DV at its descriptor ``offset`` framed as
  ``<size int32 BE> <RoaringBitmapArray bytes> <CRC-32 int32 BE>``
  (:mod:`.roaring` implements the bitmap serialization itself).

Scale design: DV *decode is executor-side*. ``deleted_rows_df`` turns
the descriptor list into a tiny DataFrame and one Arrow row map
(``transform.map_rows``) opens each sidecar on the worker that needs
it, emitting (file, row_index) pairs — the driver never holds a
bitmap, so a 100 TB table where a DELETE touched a million files
ships a million 50-byte descriptors, not a million bitmaps, through
the plan. The anti-join back to the
scan is an equi-join on (file name, ``_metadata.row_index``) — Spark's
stable per-file row numbering, the same row-id a native DV reader
keys on.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_plugins_spark.operators.transform import map_rows

from .roaring import deserialize_rba, dv_frame, dv_unframe, serialize_rba

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85: 4 bytes -> 5 chars (len(data) % 4 == 0)."""
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        (n,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i : i + 5]:
            n = n * 85 + _Z85_INV[c]
        out += struct.pack(">I", n)
    return bytes(out)


_FORMAT_VERSION = 1
_INLINE_MAX = 40  # bitmaps at most this many bytes inline ("i")


def dv_file_name(u: _uuid.UUID) -> str:
    return f"deletion_vector_{u}.bin"


def descriptor_path(table_path: str, desc: dict) -> str:
    """Absolute sidecar path for a ``"u"`` descriptor (protocol: last
    20 chars are the z85 uuid, the rest is an optional prefix dir)."""
    s = desc["pathOrInlineDv"]
    prefix, z = s[:-20], s[-20:]
    u = _uuid.UUID(bytes=z85_decode(z))
    parts = [table_path] + ([prefix] if prefix else []) + [dv_file_name(u)]
    return os.path.join(*parts)


def load_dv(table_path: str, desc: dict) -> list[int]:
    """Decode a descriptor -> sorted deleted row indices (driver-side
    convenience; the scan path uses :func:`deleted_rows_df`)."""
    st = desc["storageType"]
    if st == "i":
        return deserialize_rba(z85_decode(desc["pathOrInlineDv"]))
    if st in ("u", "p"):
        path = (
            desc["pathOrInlineDv"] if st == "p" else descriptor_path(table_path, desc)
        )
        with open(path, "rb") as fh:
            buf = fh.read()
        return deserialize_rba(dv_unframe(buf, desc["offset"], desc["sizeInBytes"]))
    raise ValueError(f"unsupported DV storageType {st!r}")


def write_dv_file(
    table_path: str, per_file_indices: dict[str, list[int]]
) -> dict[str, dict]:
    """Serialize one DV per data file into a shared sidecar (callers
    pass one file per call from executors — each task writes its own
    sidecar — or many files for a driver-side batch); tiny bitmaps go
    inline in the descriptor instead. Returns
    {data file path -> descriptor dict}."""
    u = _uuid.uuid4()
    frames: list[bytes] = []
    pos = 1  # format-version byte
    descs: dict[str, dict] = {}
    z_uuid = z85_encode(u.bytes)
    for data_path in sorted(per_file_indices):
        idx = per_file_indices[data_path]
        bitmap = serialize_rba(idx)
        if len(bitmap) <= _INLINE_MAX:
            descs[data_path] = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(bitmap + b"\0" * (-len(bitmap) % 4)),
                "sizeInBytes": len(bitmap),
                "cardinality": len(idx),
            }
            continue
        frame, size, _crc = dv_frame(bitmap)
        descs[data_path] = {
            "storageType": "u",
            "pathOrInlineDv": z_uuid,
            "offset": pos,
            "sizeInBytes": size,
            "cardinality": len(idx),
        }
        frames.append(frame)
        pos += len(frame)
    if frames:
        out = os.path.join(table_path, dv_file_name(u))
        tmp = out + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "wb") as fh:
            fh.write(bytes([_FORMAT_VERSION]))
            for fr in frames:
                fh.write(fr)
        os.replace(tmp, out)
    return descs


def _pad4(b: bytes) -> bytes:
    return b + b"\0" * (-len(b) % 4)


_DELETED_SCHEMA = T.StructType(
    [
        T.StructField("__dv_file", T.StringType()),
        T.StructField("__dv_idx", T.LongType()),
    ]
)


def deleted_rows_df(
    spark: SparkSession, table_path: str, dv_adds: dict[str, dict]
) -> DataFrame:
    """(data file name, deleted row index) pairs for every add that
    carries a deletionVector — decoded on EXECUTORS in one Arrow row
    map (one descriptor row in, one row per deleted index out), so
    driver memory is O(#files), not O(#deleted rows)."""
    desc_rows = [
        (path, d["storageType"], d["pathOrInlineDv"], d.get("offset", 0), d["sizeInBytes"])
        for path, d in ((p, a["deletionVector"]) for p, a in dv_adds.items())
    ]
    descs = spark.createDataFrame(
        desc_rows, "path string, st string, blob string, offset long, size long"
    ).repartition(max(1, min(len(desc_rows), 32)))

    def expand(path, st, blob, offset, size):
        desc = {"storageType": st, "pathOrInlineDv": blob, "offset": offset, "sizeInBytes": size}
        return ((path, i) for i in load_dv(table_path, desc))

    return map_rows(descs, descs.columns, _DELETED_SCHEMA, expand)


def apply_dvs(
    spark: SparkSession,
    scan: DataFrame,
    table_path: str,
    dv_adds: dict[str, dict],
    out_columns: list[str],
) -> DataFrame:
    """Filter DV-deleted rows out of ``scan`` (which must be a parquet
    read so ``_metadata`` resolves). Anti-join on (file name,
    row_index): file *name* not full URI, because add.path is
    table-relative while ``_metadata.file_path`` is absolute — part
    files are uuid-named so the name alone is unique."""
    deleted = deleted_rows_df(spark, table_path, dv_adds).withColumn(
        "__dv_file", F.element_at(F.split(F.col("__dv_file"), "/"), -1)
    )
    keyed = scan.withColumns(
        {
            "__scan_file": F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ),
            "__scan_idx": F.col("_metadata.row_index"),
        }
    )
    total_deleted = sum(
        a["deletionVector"].get("cardinality", 0) for a in dv_adds.values()
    )
    joined = keyed.join(
        # cardinality is free in the descriptors — broadcast the
        # deleted-set only when it is provably small, else shuffle
        F.broadcast(deleted) if total_deleted <= 1_000_000 else deleted,
        on=[
            keyed["__scan_file"] == F.col("__dv_file"),
            keyed["__scan_idx"] == F.col("__dv_idx"),
        ],
        how="left_anti",
    )
    return joined.select(*out_columns)
