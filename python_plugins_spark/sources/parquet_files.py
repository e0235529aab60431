"""Parquet data files for the table formats: one stager, one footer
reader and one hive path codec under both ``delta_py`` and
``iceberg_py`` (and ``convert``).

- :func:`stage_parquet` runs one Spark write into a hidden
  ``<table>/.staging-<uuid>`` directory, moves each part under a fresh
  uuid name into the table, and always removes the staging directory,
  so a failed job leaves nothing behind. Readers trust only the
  metadata, so a moved file stays invisible until the caller commits.
- :func:`claim_parquet` hard-links (or copies, across filesystems) an
  existing file into a table, for imports and conversions. Both return
  :class:`StagedFile` entries for the caller's commit.
- :func:`read_footer` reads a file's footer once: row count, Arrow
  schema and per top-level column the (min, max) folded over row
  groups. Each format encodes that on its own (Delta's ``stats``,
  Iceberg's manifest bounds).
- :func:`bounds_may_match` is the one file-skipping test over such
  bounds, as either format stores them; timestamps compare as instants.
- :func:`hive_values` / :func:`hive_dir` decode and encode hive
  ``col=value`` directories with Spark's path escaping
  (``ExternalCatalogUtils.escapePathName``), so a stored partition
  value is the value itself: ``a:b``, not its directory form ``a%3Ab``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from datetime import date, datetime, time, timezone

# characters Spark escapes in a partition directory name as %XX
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + ['"', "#", "%", "'", "*", "/",
                                           ":", "=", "?", "[", "\\", "]",
                                           "^", "{", "\x7f"]
)
_UNESCAPE = re.compile(r"%([0-9A-Fa-f]{2})")


def _escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def _unescape(s: str) -> str:
    return _UNESCAPE.sub(lambda m: chr(int(m.group(1), 16)), s)


def hive_values(rel_dir: str) -> dict[str, str]:
    """``k=v`` segments of a table-relative directory -> {k: v}, both
    unescaped. ``"."`` or ``""`` (the table root) is ``{}``; a null
    value keeps Spark's ``__HIVE_DEFAULT_PARTITION__`` directory name."""
    values: dict[str, str] = {}
    for seg in rel_dir.split(os.sep):
        if seg not in ("", "."):
            k, _, v = seg.partition("=")
            values[_unescape(k)] = _unescape(v)
    return values


def hive_dir(values: dict[str, str]) -> str:
    """Inverse of :func:`hive_values`: the escaped ``k=v/...`` path."""
    return os.sep.join(f"{_escape(k)}={_escape(v)}" for k, v in values.items())


@dataclass(frozen=True)
class Footer:
    num_rows: int
    schema: object  # pyarrow.Schema
    # top-level primitive column -> (min, max) over the row groups that
    # carry decodable stats; binary values decoded as UTF-8
    bounds: dict


@dataclass(frozen=True)
class StagedFile:
    path: str  # relative to the table root
    partition: dict  # hive values of its directory
    size: int
    footer: Footer


def read_footer(path: str) -> Footer:
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    md, schema = f.metadata, f.schema_arrow
    flat = {fd.name for fd in schema if not pa.types.is_nested(fd.type)}
    lo: dict = {}
    hi: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in flat:
                continue
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode(), mx.decode()
            except Exception:
                # a non-UTF-8 binary row group, or a logical type whose
                # stats pyarrow cannot decode: stats are optional
                continue
            if name not in lo or mn < lo[name]:
                lo[name] = mn
            if name not in hi or mx > hi[name]:
                hi[name] = mx
    return Footer(md.num_rows, schema, {n: (lo[n], hi[n]) for n in lo})


def timestamp_key(v) -> datetime | None:
    """A timestamp bound or range literal (ISO string, ``datetime`` or
    ``date``) as a naive UTC ``datetime``, or None when it is not one.
    Aware values are converted; naive ones are taken as UTC, the
    session's pinned zone. The footer bounds of a Spark TIMESTAMP column
    are UTC-aware, so their ISO strings carry ``+00:00`` and do not
    order against a naive or space-separated literal as strings."""
    if isinstance(v, str):
        s = v.strip()
        if s[-1:] in ("Z", "z"):
            s = s[:-1] + "+00:00"
        try:
            v = datetime.fromisoformat(s)
        except ValueError:
            return None
    elif isinstance(v, date) and not isinstance(v, datetime):
        v = datetime.combine(v, time())
    if not isinstance(v, datetime):
        return None
    if v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def bounds_may_match(f_min, f_max, lo, hi, key=None) -> bool:
    """False only when a file's bounds ``[f_min, f_max]`` prove that no
    value lies in the closed range ``[lo, hi]`` (None = unbounded side).
    ``key`` maps bounds and literals to comparable forms
    (:func:`timestamp_key` for timestamp columns); a value it cannot map
    (None) keeps the file."""
    values = (f_min, f_max, lo, hi)
    f_min, f_max, lo, hi = keys = [
        v if v is None or key is None else key(v) for v in values
    ]
    if any(k is None and v is not None for k, v in zip(keys, values)):
        return True
    return not ((lo is not None and f_max < lo) or (hi is not None and f_min > hi))


def stage_parquet(
    df, table_root: str, dest_dir: str, partition_by, name: str,
    skip_empty: bool = False,
) -> list[StagedFile]:
    """Write ``df`` with Spark (hive layout under ``partition_by``) and
    move every part to ``<table_root>/<dest_dir>/<hive dir>/`` named
    ``name.format(<uuid hex>)``. With ``skip_empty``, zero-row parts
    are dropped with the staging directory. If anything fails, the
    staging directory and every file moved so far are removed."""
    staging = os.path.join(table_root, f".staging-{uuid.uuid4().hex}")
    staged: list[StagedFile] = []
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        for root, _dirs, files in os.walk(staging):
            rel = os.path.relpath(root, staging)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                src = os.path.join(root, f)
                footer = read_footer(src)
                if skip_empty and footer.num_rows == 0:
                    continue
                dst = os.path.normpath(os.path.join(
                    table_root, dest_dir, rel, name.format(uuid.uuid4().hex)
                ))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                size = os.path.getsize(src)
                os.replace(src, dst)
                staged.append(StagedFile(
                    os.path.relpath(dst, table_root), hive_values(rel), size, footer
                ))
    except BaseException:
        unstage(table_root, [s.path for s in staged])
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return staged


def claim_parquet(
    src: str, table_root: str, rel: str, partition: dict,
    footer: Footer | None = None,
) -> StagedFile:
    """Hard-link the existing file ``src`` to ``<table_root>/<rel>``
    (zero copy), copying when a link is impossible (another
    filesystem). Pass ``footer`` when the caller has already read it."""
    dst = os.path.join(table_root, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)
    return StagedFile(rel, partition, os.path.getsize(dst), footer or read_footer(src))


def unstage(table_root: str, paths) -> None:
    """Remove files no commit references (a lost race, a refused
    write); ``paths`` are relative to ``table_root`` or absolute."""
    for p in paths:
        try:
            os.remove(os.path.join(table_root, p))
        except FileNotFoundError:
            pass
