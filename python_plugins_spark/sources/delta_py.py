"""Minimal Delta Lake table support, implemented from the PUBLIC Delta
transaction-log protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md):
a Delta table is a directory of parquet data files plus a
``_delta_log/`` of ordered JSON commits containing ``protocol`` /
``metaData`` / ``add`` / ``remove`` actions; the active snapshot is
the add-set minus the remove-set after replaying commits in order.

No delta-spark jar or delta-rs exists in this environment, so the LOG
layer is implemented here — but all heavy IO stays on Spark's native
parquet path: ``read_delta`` replays the log (tiny JSON files,
driver-side metadata exactly like a parquet footer) and hands the
active file list to ``spark.read.parquet``, so column pruning, filter
pushdown, and vectorized scanning work unchanged; ``write_delta``
writes parquet through Spark and then commits one JSON log entry.

Supported surface:

- append / overwrite, made visible atomically via the log;
- snapshot reads and time travel (``version_as_of``);
- **parquet checkpoints** every ``_CHECKPOINT_INTERVAL`` commits plus
  the ``_last_checkpoint`` pointer (protocol "Checkpoints" section):
  replay seeds from the newest checkpoint at-or-before the target
  version and applies only the JSON commits after it, so log replay is
  O(interval) instead of O(all commits) — the difference between a
  10-commit scan and a 10-million-commit scan on a long-lived table;
- **optimistic concurrency**: the commit is a put-if-absent of
  ``<version>.json`` (hard-link trick — ``os.link`` fails atomically
  if the destination exists, the POSIX equivalent of the protocol's
  "new file must not already exist" rule). On conflict the writer
  re-reads the snapshot, rebuilds its action list against the new
  state (appends are always re-appliable; overwrite recomputes its
  remove-set), and retries — Delta's optimistic-concurrency loop;
- **retention-windowed VACUUM**: only files whose ``remove``
  tombstone is older than ``retention_hours`` are deleted, so
  readers of recent snapshots / time travel within the window are
  safe (Delta's ``deletedFileRetentionDuration``, default 168 h);
- **MERGE INTO** (:func:`merge_delta`): equi-key upsert/delete with
  the file-pruned rewrite — only data files containing at least one
  matched row are rewritten, found via ``input_file_name()`` + a
  broadcast semi-join on the source keys; serializable via the same
  put-if-absent commit (a lost race re-runs the whole merge).

- **deletion vectors** (:func:`delete_delta` with ``mode="dv"``):
  merge-on-read DELETE — matched row indices are serialized as
  protocol-shaped RoaringBitmapArray sidecars (``delta_dv`` /
  ``roaring`` modules) and attached to the surviving ``add`` actions
  as ``deletionVector`` descriptors; the commit rewrites NO data
  files (O(deleted rows) instead of O(touched files' bytes) — the
  point of DVs on a 100 TB table). ``read_delta`` filters DV'd rows
  with an executor-decoded anti-join on ``_metadata.row_index``.
  A DV delete upgrades the protocol to readerVersion 3 /
  writerVersion 7 with the ``deletionVectors`` table feature, as the
  spec requires. ``mode="rewrite"`` is the classic copy-on-write
  path (rewrites touched files, no reader feature needed).

- **derived Change Data Feed** (:func:`table_changes`): row-level
  insert/delete changes between versions computed from the log
  alone (appends + DV deletes are exactly derivable; in-place
  rewrites are refused rather than guessed);
- **schema enforcement + evolution** (``write_delta(merge_schema=)``)
  — mismatches raise, appends add nullable columns atomically with
  the data commit, overwrite replaces the schema.

Not implemented (documented): column mapping, generated columns,
materialized _change_data files.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from python_plugins_spark.sources.parquet_files import (
    Footer, StagedFile, bounds_may_match, stage_parquet, timestamp_key, unstage,
)

_LOG_DIR = "_delta_log"
_CHECKPOINT_INTERVAL = 10
_DEFAULT_RETENTION_HOURS = 168.0


class DeltaConcurrentWriteError(RuntimeError):
    """Raised when the optimistic-concurrency retry budget is exhausted
    (another writer keeps winning the put-if-absent commit race)."""


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _commit_files(table_path: str) -> list[tuple[int, str]]:
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return []
    out = []
    for f in os.listdir(log):
        if f.endswith(".json") and not f.startswith("_"):
            try:
                out.append((int(f[: -len(".json")]), os.path.join(log, f)))
            except ValueError:
                continue
    return sorted(out)


def _checkpoint_versions(table_path: str) -> list[int]:
    log = _log_path(table_path)
    if not os.path.isdir(log):
        return []
    out = []
    for f in os.listdir(log):
        if f.endswith(".checkpoint.parquet"):
            try:
                out.append(int(f[: -len(".checkpoint.parquet")]))
            except ValueError:
                continue
    return sorted(out)


def _checkpoint_path(table_path: str, version: int) -> str:
    return os.path.join(_log_path(table_path), f"{version:020d}.checkpoint.parquet")


# --------------------------------------------------- checkpoint codec

def _cp_schema():
    import pyarrow as pa

    # protocol "Checkpoint Schema": one top-level nullable struct per
    # action kind, one row per action (format/configuration trimmed to
    # the fields this layer reads back)
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        # configuration must survive checkpointing or a
                        # checkpoint-seeded replay silently drops CHECK
                        # constraints and any other table properties
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                # protocol: SetTransaction actions persist in checkpoints
                # (one per appId) — losing them would break streaming
                # sinks' exactly-once batchId dedup across a checkpoint
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            # protocol: descriptor rides on the add in
                            # checkpoints exactly as in JSON commits
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int64()),
                                    ("sizeInBytes", pa.int64()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _write_checkpoint(table_path: str, version: int, state: "_State") -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows: list[dict] = []
    if state.protocol is not None:
        rows.append({"protocol": state.protocol})
    if state.meta is not None:
        m = state.meta
        rows.append(
            {
                "metaData": {
                    "id": m.get("id"),
                    "format": {"provider": m.get("format", {}).get("provider", "parquet")},
                    "schemaString": m.get("schemaString"),
                    "partitionColumns": m.get("partitionColumns", []),
                    "configuration": m.get("configuration", {}) or {},
                    "createdTime": m.get("createdTime"),
                }
            }
        )
    for app_id, txn_version in sorted(state.txns.items()):
        rows.append({"txn": {"appId": app_id, "version": txn_version}})
    for add in state.active.values():
        rows.append(
            {
                "add": {
                    "path": add["path"],
                    "partitionValues": add.get("partitionValues", {}) or {},
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": False,
                    "stats": add.get("stats"),
                    "deletionVector": add.get("deletionVector"),
                }
            }
        )
    # tombstones ride along so a post-checkpoint VACUUM still knows
    # each dead file's deletion time (protocol: checkpoints retain
    # remove actions until the retention window expires); ones whose
    # file is already vacuumed are dropped here, which is how the
    # tombstone set stays bounded on a long-lived table
    for path, ts in state.tombstones.items():
        if not os.path.exists(os.path.join(table_path, path)):
            continue
        rows.append(
            {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": False}}
        )
    table = pa.Table.from_pylist(rows, schema=_cp_schema())
    cp = _checkpoint_path(table_path, version)
    tmp = cp + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.replace(tmp, cp)
    last = os.path.join(_log_path(table_path), "_last_checkpoint")
    tmp = last + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    os.replace(tmp, last)


def _read_checkpoint(table_path: str, version: int) -> "_State":
    import pyarrow.parquet as pq

    state = _State()
    for row in pq.read_table(_checkpoint_path(table_path, version)).to_pylist():
        if row.get("protocol") is not None:
            proto = {
                k: v for k, v in dict(row["protocol"]).items() if v is not None
            }
            for k in ("readerFeatures", "writerFeatures"):
                if k in proto:
                    proto[k] = list(proto[k])
            state.protocol = proto
        elif row.get("metaData") is not None:
            m = dict(row["metaData"])
            pv = m.get("partitionColumns")
            m["partitionColumns"] = list(pv) if pv is not None else []
            cfg = m.get("configuration")
            m["configuration"] = dict(cfg) if cfg else {}
            state.meta = m
        elif row.get("txn") is not None:
            t = row["txn"]
            state.txns[t["appId"]] = int(t["version"])
        elif row.get("add") is not None:
            a = dict(row["add"])
            pv = a.get("partitionValues")
            # pyarrow maps round-trip as a list of (k, v) pairs
            a["partitionValues"] = dict(pv) if pv else {}
            if a.get("stats") is None:
                a.pop("stats", None)
            if a.get("deletionVector") is None:
                a.pop("deletionVector", None)
            state.active[a["path"]] = a
        elif row.get("remove") is not None:
            r = row["remove"]
            state.tombstones[r["path"]] = r["deletionTimestamp"]
    return state


# ------------------------------------------------------------- replay

class _State:
    """Replayed table state: protocol, metaData, active add-set,
    remove tombstones (path -> deletionTimestamp ms), and application
    transaction versions (protocol ``txn`` / SetTransaction — the
    idempotence record exactly-once streaming sinks key on)."""

    def __init__(self) -> None:
        self.protocol: dict | None = None
        self.meta: dict | None = None
        self.active: dict[str, dict] = {}
        self.tombstones: dict[str, int] = {}
        self.txns: dict[str, int] = {}

    def apply_commit(self, path: str) -> None:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    self.protocol = action["protocol"]
                elif "metaData" in action:
                    self.meta = action["metaData"]
                elif "add" in action:
                    add = action["add"]
                    self.active[add["path"]] = add
                    self.tombstones.pop(add["path"], None)
                elif "remove" in action:
                    rm = action["remove"]
                    self.active.pop(rm["path"], None)
                    self.tombstones[rm["path"]] = rm.get(
                        "deletionTimestamp", int(time.time() * 1000)
                    )
                elif "txn" in action:
                    txn = action["txn"]
                    self.txns[txn["appId"]] = max(
                        self.txns.get(txn["appId"], -1), int(txn["version"])
                    )


def _replay_state(
    table_path: str,
    version_as_of: int | None = None,
    use_checkpoint: bool = True,
) -> _State:
    commits = _commit_files(table_path)
    if not commits:
        raise FileNotFoundError(f"no Delta log at {_log_path(table_path)}")
    if version_as_of is not None:
        wanted = [(v, p) for v, p in commits if v <= version_as_of]
        if not wanted or wanted[-1][0] != version_as_of:
            raise ValueError(
                f"version {version_as_of} not in log "
                f"(have {[v for v, _ in commits]})"
            )
        commits = wanted

    state = _State()
    start_after = -1
    if use_checkpoint:
        target = commits[-1][0]
        cps = [v for v in _checkpoint_versions(table_path) if v <= target]
        if cps:
            start_after = cps[-1]
            state = _read_checkpoint(table_path, start_after)
    for v, path in commits:
        if v > start_after:
            state.apply_commit(path)
    if state.meta is None or state.meta.get("schemaString") is None:
        raise ValueError("log contains no metaData action")
    return state


def _replay(table_path: str, version_as_of: int | None = None):
    """Replay the log -> (schema_json, active file map path->add).
    Kept as the narrow two-tuple the readers/vacuum historically use;
    checkpoint seeding is transparent."""
    state = _replay_state(table_path, version_as_of)
    return state.meta["schemaString"], state.active


def version_at_timestamp(table_path: str, ts_ms) -> int:
    """TIMESTAMP AS OF resolution: the latest committed version whose
    commit timestamp is <= ``ts_ms`` (epoch millis, or an ISO-8601
    string). Commit times come from each commit's commitInfo action
    (file mtime for commits predating commitInfo). Raises if the
    timestamp predates the table — the same error surface as Delta."""
    if isinstance(ts_ms, str):
        dt = datetime.datetime.fromisoformat(ts_ms)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        ts_ms = int(dt.timestamp() * 1000)
    best = None
    for version, cpath in _commit_files(table_path):
        commit_ts = None
        with open(cpath) as fh:
            for line in fh:
                if not line.strip():
                    continue
                info = json.loads(line).get("commitInfo")
                if info is not None:
                    commit_ts = info.get("timestamp")
                break  # commitInfo is written first in every commit
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(cpath) * 1000)
        if commit_ts <= ts_ms:
            best = version
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} predates the first commit of {table_path}"
        )
    return best


def read_delta(
    spark: SparkSession,
    table_path: str,
    version_as_of: int | None = None,
    prune: dict[str, tuple] | None = None,
    timestamp_as_of=None,
) -> DataFrame:
    """Snapshot (or time-travel) read: replay the log, scan the active
    parquet files natively. An empty snapshot returns an empty frame
    with the table schema.

    ``prune`` is a data-skipping hint: ``{col: (lo, hi)}`` inclusive
    ranges (either end may be None). Files whose logged min/max stats
    OR hive partition values provably miss every range are NOT
    scanned — metadata-only elimination, the Delta stats-skipping that
    (with a Z-ordered or partitioned layout) turns a selective 100 TB
    scan into a few-file read. It is a HINT, not a filter: callers
    still apply the exact predicate; files without stats are
    conservatively kept.

    ``timestamp_as_of`` (epoch millis or ISO-8601 string) is TIMESTAMP
    AS OF time travel: resolves to the latest version committed at or
    before the given time (:func:`version_at_timestamp`)."""
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError("pass version_as_of OR timestamp_as_of, not both")
        version_as_of = version_at_timestamp(table_path, timestamp_as_of)
    state = _replay_state(table_path, version_as_of)
    schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
    active = state.active
    part_cols = state.meta.get("partitionColumns") or []
    mapped = column_mapping_enabled(state.meta)
    timestamps = {
        f.name for f in schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    }
    if prune and mapped:
        # logged stats key on PHYSICAL parquet names
        cm = _cm_map(schema)
        prune = {cm.get(c, c): rng for c, rng in prune.items()}
        timestamps = {cm.get(c, c) for c in timestamps}
    keep = list(active)
    if prune:
        keep = [p for p in keep if _stats_may_match(active[p], prune, timestamps)]
    if not keep:
        return spark.createDataFrame([], schema)
    if mapped:
        from pyspark.sql import functions as F

        phys = _cm_physical_schema(schema)
        raw = _scan_files(spark, table_path, phys, keep, part_cols)
        scan = raw.select(
            *[
                F.col(pf.name).alias(lf.name)
                for pf, lf in zip(phys.fields, schema.fields)
            ],
            *(["_metadata"] if "_metadata" in raw.columns else []),
        )
    else:
        scan = _scan_files(spark, table_path, schema, keep, part_cols)
    dv_adds = {
        p: active[p] for p in keep if active[p].get("deletionVector")
    }
    if dv_adds:
        from .delta_dv import apply_dvs

        scan = apply_dvs(spark, scan, table_path, dv_adds, [f.name for f in schema.fields])
    if "_metadata" in scan.columns:
        scan = scan.select(*[f.name for f in schema.fields])
    return scan


def _scan_files(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    rel_paths: list[str],
    part_cols: list[str],
) -> DataFrame:
    """Native parquet scan over table-relative paths. Partitioned
    tables (hive layout; data files OMIT the partition columns, per the
    protocol) read with ``basePath`` so Spark reconstructs the
    partition columns from the dir names — the same values the adds'
    ``partitionValues`` record.

    Shallow-clone snapshots mix table-relative adds with ABSOLUTE
    references into the source's directory tree, so a single basePath
    cannot cover them: paths group by their hive root (the ancestor
    ``len(part_cols)`` directory levels above each data file) and each
    root scans under its own basePath, branches unioned. The virtual
    ``_metadata`` column does not propagate through a union, so
    multi-root scans materialize it as a regular struct column —
    downstream row identity (`_metadata.file_path` / ``row_index`` in
    the DV anti-joins) then resolves against the materialized copy.
    Callers all end in explicit projections, so the extra column never
    leaks into a result schema (read_delta drops it defensively)."""
    paths = [os.path.join(table_path, p) for p in rel_paths]
    if not part_cols:
        return spark.read.schema(schema).parquet(*paths)
    groups: dict[str, list[str]] = {}
    for p in paths:
        root = p
        for _ in range(len(part_cols) + 1):
            root = os.path.dirname(root)
        groups.setdefault(root, []).append(p)
    names = [f.name for f in schema.fields]
    if len(groups) == 1:
        ((root, grp),) = groups.items()
        return (
            spark.read.option("basePath", root)
            .schema(schema)
            .parquet(*grp)
            .select(*names)
        )
    from pyspark.sql import functions as F

    branches = [
        spark.read.option("basePath", root)
        .schema(schema)
        .parquet(*grp)
        .select(*names, F.col("_metadata").alias("_metadata"))
        for root, grp in sorted(groups.items())
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _stats_may_match(
    add: dict, prune: dict[str, tuple], timestamps=frozenset()
) -> bool:
    """False only when the file's logged stats PROVE no row can match
    every (lo, hi) range — missing stats keep the file (correctness
    over skipping). Columns named in ``timestamps`` compare as instants
    (:func:`~python_plugins_spark.sources.parquet_files.timestamp_key`)."""
    raw = add.get("stats")
    if not raw:
        return True
    try:
        stats = json.loads(raw) if isinstance(raw, str) else raw
    except (TypeError, ValueError):
        return True
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    pvals = add.get("partitionValues") or {}
    for col, (lo, hi) in prune.items():
        if col in pvals:
            # hive partition value (always a string in the add): a
            # numeric-looking value compares numerically against the
            # bounds; otherwise only exact-point ranges can eliminate
            v = pvals[col]
            try:
                fv = float(v)
                if lo is not None and fv < float(lo):
                    return False
                if hi is not None and fv > float(hi):
                    return False
            except (TypeError, ValueError):
                if lo is not None and lo == hi and str(lo) != v:
                    return False
            continue
        if col not in mins or col not in maxs:
            continue
        key = timestamp_key if col in timestamps else None
        if not bounds_may_match(mins[col], maxs[col], lo, hi, key):
            return False
    return True


def table_version(table_path: str) -> int:
    commits = _commit_files(table_path)
    return commits[-1][0] if commits else -1


def last_checkpoint_version(table_path: str) -> int | None:
    """Version recorded in ``_last_checkpoint``, or None."""
    p = os.path.join(_log_path(table_path), "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)["version"]


# ------------------------------------------------------------- commit

def _put_if_absent(content: str, dst: str) -> bool:
    """Atomically create ``dst`` with ``content`` iff it does not
    exist. POSIX ``link(2)`` fails with EEXIST atomically even on the
    same directory, which ``os.replace`` (silent overwrite) cannot —
    this is the primitive that makes two same-version writers a
    detected conflict instead of a lost update (Delta log entries and
    Iceberg metadata files alike)."""
    tmp = dst + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(content)
    try:
        os.link(tmp, dst)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _stats(footer: Footer) -> str:
    """The ``add`` action's ``stats`` (protocol "Per-file Statistics"):
    numRecords plus min/maxValues straight from the parquet footer —
    the same numbers a Java Delta writer persists, and what
    :func:`read_delta`'s ``prune`` uses for data skipping. Dates and
    timestamps are ISO strings; decimal columns and dotted names carry
    no min/max (the protocol allows a subset)."""
    def _plain(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return v if isinstance(v, (int, float, str, bool)) else None

    mins: dict = {}
    maxs: dict = {}
    for name, (mn, mx) in footer.bounds.items():
        mn, mx = _plain(mn), _plain(mx)
        if "." not in name and mn is not None and mx is not None:
            mins[name], maxs[name] = mn, mx
    return json.dumps(
        {"numRecords": footer.num_rows, "minValues": mins, "maxValues": maxs}
    )


def _add_action(f: StagedFile, now_ms: int) -> dict:
    return {"add": {
        "path": f.path,
        "partitionValues": f.partition,
        "size": f.size,
        "modificationTime": now_ms,
        "dataChange": True,
        "stats": _stats(f.footer),
    }}


def _stage_data_files(
    df: DataFrame,
    table_path: str,
    now_ms: int,
    partition_by: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` as parquet parts into the table root under fresh
    uuid names (invisible to readers, who only trust the log); return
    the ``add`` actions (with per-file stats) for a later commit.

    With ``partition_by``, parts land in hive-layout ``col=value/``
    dirs and each add carries the protocol's ``partitionValues`` map
    (data files themselves omit the partition columns, exactly as the
    protocol specifies — readers reconstruct them from the add)."""
    return [
        _add_action(f, now_ms)
        for f in stage_parquet(df, table_path, "", partition_by, "part-{}.parquet")
    ]


class DeltaSchemaMismatchError(ValueError):
    """Raised when a write's schema differs from the table schema and
    ``merge_schema`` was not requested (Delta's schema enforcement)."""


class DeltaConstraintViolationError(ValueError):
    """Raised when written rows violate a table CHECK constraint
    (protocol ``delta.constraints.<name>`` configuration keys)."""


_CONSTRAINT_PREFIX = "delta.constraints."


def table_constraints(table_path: str) -> dict[str, str]:
    """Active CHECK constraints: {name: sql_expr}."""
    state = _replay_state(table_path)
    cfg = (state.meta or {}).get("configuration") or {}
    return {
        k[len(_CONSTRAINT_PREFIX):]: v
        for k, v in cfg.items()
        if k.startswith(_CONSTRAINT_PREFIX)
    }


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str,
    max_retries: int = 10,
) -> int:
    """ALTER TABLE ADD CONSTRAINT (protocol "CHECK Constraints"):
    verifies the EXISTING rows satisfy ``expr`` (one distributed
    aggregate — the same scan Delta runs), then commits the
    ``delta.constraints.<name>`` configuration key. Subsequent
    :func:`write_delta` calls enforce it on incoming data for free via
    an observation on the staging write (no extra pass). Returns the
    committed version."""
    def _validate() -> int:
        # returns the snapshot version the scan proved clean
        v = table_version(table_path)
        bad = (
            read_delta(spark, table_path, version_as_of=v)
            .filter(f"NOT ({expr})")
            .count()
        )
        if bad:
            raise DeltaConstraintViolationError(
                f"cannot add constraint {name!r}: {bad} existing row(s) "
                f"violate ({expr})"
            )
        return v

    validated_version = _validate()
    for _ in range(max_retries + 1):
        # a write landing between the validation scan and the metaData
        # commit could introduce violating rows; only commit when the
        # version we're extending IS the one the scan proved clean
        if table_version(table_path) != validated_version:
            validated_version = _validate()
            continue
        state = _replay_state(table_path)
        new_meta = dict(state.meta)
        cfg = dict(new_meta.get("configuration") or {})
        cfg[_CONSTRAINT_PREFIX + name] = expr
        new_meta["configuration"] = cfg
        version = validated_version + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info("ADD CONSTRAINT", {"name": name, "expr": expr}))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


_GEN_EXPR = "delta.generationExpression"


def table_generated_columns(table_path: str) -> dict[str, str]:
    """Active generated columns: {column: sql_expr}."""
    state = _replay_state(table_path)
    schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
    return {
        f.name: (f.metadata or {})[_GEN_EXPR]
        for f in schema.fields
        if _GEN_EXPR in (f.metadata or {})
    }


def set_generated_column(
    spark: SparkSession, table_path: str, col: str, expr: str,
    max_retries: int = 10,
) -> int:
    """Declare ``col`` a GENERATED column (protocol "Generated
    Columns": ``delta.generationExpression`` in the field metadata).
    Existing rows are verified to already satisfy ``col <=> (expr)``
    (one distributed aggregate); afterwards :func:`write_delta`
    computes the column when a writer omits it and REJECTS a write
    whose provided values disagree with the expression — the
    protocol's writer obligation. Returns the committed version."""
    def _validate() -> int:
        v = table_version(table_path)
        snap = read_delta(spark, table_path, version_as_of=v)
        if col not in snap.columns:
            raise KeyError(f"no column {col!r} in {table_path}")
        bad = snap.filter(f"NOT (`{col}` <=> ({expr}))").count()
        if bad:
            raise DeltaConstraintViolationError(
                f"cannot declare {col!r} generated: {bad} existing "
                f"row(s) disagree with ({expr})"
            )
        return v

    validated_version = _validate()
    for _ in range(max_retries + 1):
        if table_version(table_path) != validated_version:
            validated_version = _validate()
            continue
        state = _replay_state(table_path)
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        fields = []
        for f in schema.fields:
            if f.name == col:
                md = dict(f.metadata or {})
                md[_GEN_EXPR] = expr
                f = T.StructField(f.name, f.dataType, f.nullable, md)
            fields.append(f)
        new_meta = dict(state.meta)
        new_meta["schemaString"] = T.StructType(fields).json()
        version = validated_version + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info(
                "SET GENERATED", {"column": col, "expr": expr}
            ))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


def drop_check_constraint(
    table_path: str, name: str, max_retries: int = 10
) -> int:
    """ALTER TABLE DROP CONSTRAINT; returns the committed version."""
    for _ in range(max_retries + 1):
        state = _replay_state(table_path)
        cfg = dict((state.meta or {}).get("configuration") or {})
        if _CONSTRAINT_PREFIX + name not in cfg:
            raise KeyError(f"no constraint named {name!r}")
        new_meta = dict(state.meta)
        del cfg[_CONSTRAINT_PREFIX + name]
        new_meta["configuration"] = cfg
        version = table_version(table_path) + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info("DROP CONSTRAINT", {"name": name}))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


# ------------------------------------------------- column mapping

_CM_MODE = "delta.columnMapping.mode"
_CM_MAXID = "delta.columnMapping.maxColumnId"
_CM_ID = "delta.columnMapping.id"
_CM_PHYS = "delta.columnMapping.physicalName"


def column_mapping_enabled(meta: dict | None) -> bool:
    return ((meta or {}).get("configuration") or {}).get(_CM_MODE) == "name"


def _cm_physical_schema(schema: T.StructType) -> T.StructType:
    """Logical table schema -> the schema of the PHYSICAL parquet
    columns (field metadata's physicalName, falling back to the
    logical name for pre-upgrade fields)."""
    return T.StructType(
        [
            T.StructField(
                (f.metadata or {}).get(_CM_PHYS, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _cm_map(schema: T.StructType) -> dict[str, str]:
    """logical name -> physical name."""
    return {
        f.name: (f.metadata or {}).get(_CM_PHYS, f.name)
        for f in schema.fields
    }


def _cm_to_physical(meta: dict | None, df: DataFrame) -> DataFrame:
    """Project a LOGICAL-schema frame onto the table's PHYSICAL
    column names before staging data files (no-op without mapping).
    Every writer of data files on a mapped table must route here."""
    if not column_mapping_enabled(meta):
        return df
    from pyspark.sql import functions as F

    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cm = _cm_map(schema)
    return df.select(*[F.col(ln).alias(pn) for ln, pn in cm.items()])


def enable_column_mapping(table_path: str, max_retries: int = 10) -> int:
    """Upgrade a table to column-mapping mode 'name' (protocol 'Column
    Mapping'): every field gets a stable column id and a physicalName
    — the parquet column the data files store. Existing fields take
    their CURRENT name as physicalName (so already-written files need
    no rewrite — exactly Delta's upgrade semantics), and renames
    thereafter are metadata-only commits that change the LOGICAL name
    while the physical layout stays put.

    Composes with the full table surface as of round 4: row-level
    ops (DV/rewrite delete, UPDATE, MERGE, OPTIMIZE), derived CDC,
    both streaming modes, AND ``merge_schema`` append evolution (new
    columns take fresh ``col-<uuid>`` physical names and advance
    maxColumnId) all read/write mapped tables through the
    logical->physical projection. Partitioned tables upgrade too:
    partitionColumns are the PHYSICAL names (equal to the names at
    upgrade time, the protocol's rule), so existing hive dirs and
    partitionValues need no rewrite and even the partition column
    itself renames freely. Remaining documented subset:
    overwriteSchema on mapped tables."""
    state = _replay_state(table_path)
    schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
    if column_mapping_enabled(state.meta):
        return table_version(table_path)
    new_fields = []
    for i, f in enumerate(schema.fields, start=1):
        md = dict(f.metadata or {})
        md[_CM_ID] = i
        md[_CM_PHYS] = f.name  # existing files stay readable as-is
        new_fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    new_schema = T.StructType(new_fields)
    for _ in range(max_retries + 1):
        state = _replay_state(table_path)
        new_meta = dict(state.meta)
        cfg = dict(new_meta.get("configuration") or {})
        cfg[_CM_MODE] = "name"
        cfg[_CM_MAXID] = str(len(new_fields))
        new_meta["configuration"] = cfg
        new_meta["schemaString"] = new_schema.json()
        version = table_version(table_path) + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info("SET TBLPROPERTIES", {"delta.columnMapping.mode": "name"}))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


def rename_column(table_path: str, old: str, new: str, max_retries: int = 10) -> int:
    """Metadata-only column RENAME (requires column mapping): the
    logical name changes, the physicalName — and therefore every
    already-written data file — does not. The rename-without-rewrite
    that makes schema refactors O(1) on a 100 TB table."""
    for _ in range(max_retries + 1):
        state = _replay_state(table_path)
        if not column_mapping_enabled(state.meta):
            raise ValueError(
                "rename_column requires column mapping; run "
                "enable_column_mapping first"
            )
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise KeyError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name,
                              f.dataType, f.nullable, dict(f.metadata or {}))
                for f in schema.fields
            ]
        )
        new_meta = dict(state.meta)
        new_meta["schemaString"] = new_schema.json()
        version = table_version(table_path) + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info("RENAME COLUMN", {"old": old, "new": new}))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


def drop_column(table_path: str, name: str, max_retries: int = 10) -> int:
    """Metadata-only column DROP (requires column mapping): the field
    leaves the logical schema; the physical column stays in the data
    files and readers simply never select it."""
    for _ in range(max_retries + 1):
        state = _replay_state(table_path)
        if not column_mapping_enabled(state.meta):
            raise ValueError(
                "drop_column requires column mapping; run "
                "enable_column_mapping first"
            )
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        if name not in [f.name for f in schema.fields]:
            raise KeyError(f"no column {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        new_schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, f.nullable,
                              dict(f.metadata or {}))
                for f in schema.fields
                if f.name != name
            ]
        )
        new_meta = dict(state.meta)
        new_meta["schemaString"] = new_schema.json()
        version = table_version(table_path) + 1
        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = (
            json.dumps(_commit_info("DROP COLUMN", {"name": name}))
            + "\n"
            + json.dumps({"metaData": new_meta})
            + "\n"
        )
        if _put_if_absent(body, commit):
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


_INT_WIDTH = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}


def _delta_widening(frm: T.DataType, to: T.DataType) -> bool:
    """True iff ``frm -> to`` is a protocol-valid type widening (table
    feature ``typeWidening``): byte/short/int/long chain upward,
    float -> double, decimal(P,S) -> decimal(P',S) with P' > P.
    Readers widen old files' values natively (Spark's vectorized
    parquet reader handles all of these)."""
    fw, tw = _INT_WIDTH.get(type(frm)), _INT_WIDTH.get(type(to))
    if fw is not None and tw is not None:
        return tw > fw
    if isinstance(frm, T.FloatType) and isinstance(to, T.DoubleType):
        return True
    if isinstance(frm, T.DecimalType) and isinstance(to, T.DecimalType):
        return to.scale == frm.scale and to.precision > frm.precision
    return False


def _widening_protocol_action(
    state, existing: T.StructType, evolved: T.StructType
) -> dict | None:
    """The protocol-upgrade action a committed type widening requires
    (table feature ``typeWidening``, same upgrade shape as DVs) — or
    None when no same-name type changed or the feature is already on."""
    ex = {f.name: f.dataType for f in existing.fields}
    if not any(
        f.name in ex and f.dataType != ex[f.name] for f in evolved.fields
    ):
        return None
    proto = state.protocol or {}
    rf = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) >= 3 and "typeWidening" in rf:
        return None
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf | {"typeWidening"}),
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or []) | {"typeWidening"}
            ),
        }
    }


def _evolve_schema(
    existing: T.StructType, incoming: T.StructType, mode: str, merge_schema: bool
) -> T.StructType | None:
    """Schema enforcement + evolution. Returns the NEW table schema to
    commit in a ``metaData`` action, or None if unchanged.

    - identical schemas -> None;
    - ``merge_schema`` append: incoming may ADD columns (appended after
      the existing ones, Delta's mergeSchema) and may OMIT existing
      ones (read fills nulls); a same-name type change that is a valid
      WIDENING (see :func:`_delta_widening`) widens the field in place
      — the change history lands in the field's ``delta.typeChanges``
      metadata (protocol table feature ``typeWidening``); any other
      type change is rejected. (Narrower incoming data never reaches
      here: write_delta upcasts it to the table type before staging —
      SQL store-assignment, no schema change.);
    - ``merge_schema`` overwrite: the incoming schema replaces the
      table schema outright (overwriteSchema semantics);
    - otherwise any difference raises
      :class:`DeltaSchemaMismatchError`."""
    ex = {f.name: f for f in existing.fields}
    inc = {f.name: f for f in incoming.fields}
    if [f.name for f in existing.fields] == [f.name for f in incoming.fields] and all(
        ex[n].dataType == inc[n].dataType for n in ex
    ):
        return None
    if not merge_schema:
        raise DeltaSchemaMismatchError(
            f"write schema {incoming.simpleString()} differs from table "
            f"schema {existing.simpleString()}; pass merge_schema=True to "
            "evolve (append adds columns / widens types, overwrite "
            "replaces the schema)"
        )
    if mode == "overwrite":
        return incoming
    conflicts = [
        n for n in inc
        if n in ex
        and ex[n].dataType != inc[n].dataType
        and not _delta_widening(ex[n].dataType, inc[n].dataType)
    ]
    if conflicts:
        raise DeltaSchemaMismatchError(
            f"type change on existing column(s) {conflicts} is not a "
            "valid widening (byte/short/int/long up, float->double, "
            "decimal precision up) — rewrite the table instead"
        )
    merged = []
    for f in existing.fields:
        nf = inc.get(f.name)
        if nf is not None and nf.dataType != f.dataType:
            md = dict(f.metadata or {})
            md["delta.typeChanges"] = (md.get("delta.typeChanges") or []) + [
                {
                    "fromType": f.dataType.simpleString(),
                    "toType": nf.dataType.simpleString(),
                }
            ]
            merged.append(T.StructField(f.name, nf.dataType, f.nullable, md))
        else:
            merged.append(f)
    merged += [
        T.StructField(f.name, f.dataType, True)  # new cols always nullable
        for f in incoming.fields
        if f.name not in ex
    ]
    return T.StructType(merged)


def _commit_info(operation: str, params: dict | None = None) -> dict:
    """The protocol's commitInfo action — the audit record DESCRIBE
    HISTORY reads. Purely informational (replay ignores it), written
    first in every commit this layer makes."""
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": {
                k: str(v) for k, v in (params or {}).items()
            },
            "engineInfo": "python_plugins_spark",
        }
    }


def table_history(table_path: str) -> list[dict]:
    """DESCRIBE HISTORY: one record per commit, newest first —
    ``{version, timestamp, operation, operationParameters}``. Commits
    from before commitInfo was written surface operation=None."""
    out = []
    for version, cpath in _commit_files(table_path):
        info = None
        with open(cpath) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    info = action["commitInfo"]
                    break
        out.append(
            {
                "version": version,
                "timestamp": (info or {}).get("timestamp"),
                "operation": (info or {}).get("operation"),
                "operationParameters": (info or {}).get(
                    "operationParameters", {}
                ),
            }
        )
    return sorted(out, key=lambda r: -r["version"])


def txn_version(table_path: str, app_id: str) -> int:
    """Highest committed SetTransaction version for ``app_id``, or -1.
    The idempotence query a restarting streaming sink runs first."""
    try:
        return _replay_state(table_path).txns.get(app_id, -1)
    except FileNotFoundError:
        return -1


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    max_retries: int = 10,
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Write a new table version; returns the committed version number
    — or -1 if ``txn`` marked the write as already applied (see below).

    ``txn=(app_id, version)`` makes the write IDEMPOTENT via the
    protocol's SetTransaction action: the commit records the pair, and
    a later write with the same app_id and a version <= the recorded
    one is skipped entirely (returns -1, stages nothing). This is the
    exactly-once contract for streaming foreachBatch sinks — pass the
    query name and epoch/batch id, and a batch retried after a crash
    or a duplicate delivery cannot double-append. The check re-runs
    inside the optimistic-concurrency loop, so two racing writers of
    the same batch resolve to one commit and one skip.

    The parquet data is written by Spark into a staging subdir, the
    files are moved into the table root (invisible to readers, who
    only trust the log), and ONE json commit makes them visible
    atomically. ``mode``: 'append' adds files; 'overwrite' also removes
    every previously active file in the same commit.

    Schema: writes are ENFORCED against the table schema — a mismatch
    raises :class:`DeltaSchemaMismatchError` unless ``merge_schema``
    (Delta's mergeSchema/overwriteSchema): append may add new columns
    (committed as an updated ``metaData`` in the same atomic commit;
    old files read the new columns as null through the explicit read
    schema) and overwrite may replace the schema outright.

    Concurrency: the commit is a put-if-absent of ``<version>.json``.
    If another writer claimed the version first, the action list is
    rebuilt against the new snapshot and the commit retried — an
    append commutes with any concurrent commit, and overwrite
    recomputes its remove-set so it still means "replace the table as
    of commit time". ``DeltaConcurrentWriteError`` after
    ``max_retries`` losses."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_log_path(table_path), exist_ok=True)
    now_ms = int(time.time() * 1000)

    # resolve the partition spec BEFORE staging: an existing table's
    # partitionColumns are the contract (None inherits; a mismatch on
    # an existing table raises — repartitioning is a rewrite, not a
    # write mode)
    constraints: dict[str, str] = {}
    gen_exprs: dict[str, tuple[str, T.DataType]] = {}
    cm_physical: list[tuple[str, str]] | None = None
    cm_evolution: tuple | None = None
    if table_version(table_path) >= 0:
        _pre_state = _replay_state(table_path)
        if txn is not None and _pre_state.txns.get(txn[0], -1) >= txn[1]:
            return -1  # batch already applied; nothing staged
        existing_parts = _pre_state.meta.get("partitionColumns") or []
        cfg = _pre_state.meta.get("configuration") or {}
        # store-assignment upcast: incoming columns NARROWER than the
        # table type cast up before staging (int data into a long
        # column just works, like SQL INSERT) — no schema change, no
        # merge_schema needed. Runs BEFORE mapping/evolution so those
        # paths never see the already-assignable diff.
        _tbl_pre = T.StructType.fromJson(
            json.loads(_pre_state.meta["schemaString"])
        )
        _tbl_by_name = {f.name: f for f in _tbl_pre.fields}
        _upcasts = {
            f.name: _tbl_by_name[f.name].dataType
            for f in df.schema.fields
            if f.name in _tbl_by_name
            and f.dataType != _tbl_by_name[f.name].dataType
            and _delta_widening(f.dataType, _tbl_by_name[f.name].dataType)
        }
        if _upcasts:
            from pyspark.sql import functions as F

            df = df.withColumns(
                {c: F.col(c).cast(t) for c, t in _upcasts.items()}
            )
        if cfg.get(_CM_MODE) == "name":
            _tbl = T.StructType.fromJson(
                json.loads(_pre_state.meta["schemaString"])
            )
            cm_physical = [
                (f.name, (f.metadata or {}).get(_CM_PHYS, f.name))
                for f in _tbl.fields
            ]
            if merge_schema:
                if mode == "overwrite":
                    # overwriteSchema under mapping: every old data
                    # file is removed in this same commit, so the
                    # replacement schema only needs protocol-valid
                    # mapping metadata. Columns matching the old
                    # schema by NAME AND TYPE keep their id/physical
                    # name (stable identity across the overwrite);
                    # everything else draws a FRESH id past
                    # maxColumnId and a fresh physical name.
                    old_by_name = {f.name: f for f in _tbl.fields}
                    max_id = int(cfg.get(_CM_MAXID, len(_tbl.fields)))
                    fields_md = []
                    for f in df.schema.fields:
                        old = old_by_name.get(f.name)
                        md = dict(f.metadata or {})
                        if (
                            old is not None
                            and old.dataType == f.dataType
                            and _CM_PHYS in (old.metadata or {})
                        ):
                            md[_CM_ID] = old.metadata[_CM_ID]
                            md[_CM_PHYS] = old.metadata[_CM_PHYS]
                        else:
                            max_id += 1
                            md[_CM_ID] = max_id
                            md[_CM_PHYS] = f"col-{uuid.uuid4().hex[:12]}"
                        fields_md.append(
                            T.StructField(f.name, f.dataType, f.nullable, md)
                        )
                    evolved_md = T.StructType(fields_md)
                    cm_evolution = (
                        _pre_state.meta["schemaString"],
                        evolved_md,
                        {**cfg, _CM_MAXID: str(max_id)},
                    )
                    cm_physical = [
                        (f.name, f.metadata[_CM_PHYS]) for f in fields_md
                    ]
                    evolved_logical = None
                else:
                    evolved_logical = _evolve_schema(_tbl, df.schema, mode, True)
                if evolved_logical is not None:
                    # new columns take FRESH physical names + ids —
                    # the protocol's add-column rule under mapping
                    max_id = int(cfg.get(_CM_MAXID, len(_tbl.fields)))
                    fields_md = []
                    for f in evolved_logical.fields:
                        md = dict(f.metadata or {})
                        if _CM_PHYS not in md:
                            max_id += 1
                            md[_CM_ID] = max_id
                            md[_CM_PHYS] = f"col-{uuid.uuid4().hex[:12]}"
                        fields_md.append(
                            T.StructField(f.name, f.dataType, f.nullable, md)
                        )
                    evolved_md = T.StructType(fields_md)
                    cm_evolution = (
                        _pre_state.meta["schemaString"],
                        evolved_md,
                        {**cfg, _CM_MAXID: str(max_id)},
                    )
                    cm_physical = [
                        (f.name, f.metadata[_CM_PHYS]) for f in fields_md
                    ]
        constraints = {
            k[len(_CONSTRAINT_PREFIX):]: v
            for k, v in cfg.items()
            if k.startswith(_CONSTRAINT_PREFIX)
        }
        _tbl_full = T.StructType.fromJson(
            json.loads(_pre_state.meta["schemaString"])
        )
        gen_exprs = {
            f.name: ((f.metadata or {})[_GEN_EXPR], f.dataType)
            for f in _tbl_full.fields
            if _GEN_EXPR in (f.metadata or {})
        }
        if partition_by is None:
            partition_by = existing_parts or None
        elif list(partition_by) != list(existing_parts):
            raise ValueError(
                f"table is partitioned by {existing_parts}, "
                f"got partition_by={list(partition_by)}"
            )
    # under column mapping partitionColumns are PHYSICAL names (the
    # protocol's rule; they equal the logical names at upgrade time and
    # stay put across renames) — presence-check against the LOGICAL
    # write schema through the inverse map
    _phys_to_logical = (
        {pn: ln for ln, pn in cm_physical} if cm_physical else {}
    )
    missing_parts = [
        c for c in (partition_by or [])
        if _phys_to_logical.get(c, c) not in df.columns
    ]
    if missing_parts:
        raise ValueError(f"partition columns not in data: {missing_parts}")

    # CHECK-constraint enforcement rides the staging write as an
    # observation — violation counts come out of the SAME action that
    # writes the parquet, zero extra passes over the data.
    # generated columns (protocol "Generated Columns"): compute the
    # ones the writer omitted; values the writer DID provide must
    # agree with the expression (checked below, riding the same
    # observation as CHECK constraints — zero extra passes)
    provided_gen: list[str] = []
    if gen_exprs:
        from pyspark.sql import functions as F

        provided_gen = [c for c in gen_exprs if c in df.columns]
        missing_gen = [c for c in gen_exprs if c not in df.columns]
        for c in missing_gen:
            e, dt = gen_exprs[c]
            df = df.withColumn(c, F.expr(e).cast(dt))
        if missing_gen:
            tbl_names = [f.name for f in _tbl_full.fields]
            if set(df.columns) == set(tbl_names):
                df = df.select(*tbl_names)  # restore declared order

    # predicate checks: CHECK constraints + provided generated values
    checks: dict[str, tuple[str, str]] = {
        n: (f"CHECK {n}", e) for n, e in constraints.items()
    }
    for c in provided_gen:
        checks[f"__gen__{c}"] = (
            f"generated column {c}",
            f"`{c}` <=> ({gen_exprs[c][0]})",
        )
    obs = None
    if checks:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(
            obs,
            *[
                F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(n)
                for n, (_d, pred) in sorted(checks.items())
            ],
        )
    enforce_schema = df.schema
    if cm_physical is not None:
        from pyspark.sql import functions as F

        # column-mapping: data files store PHYSICAL names; rewrite the
        # projection after the constraint observation so the logical
        # expressions above still resolve. Under merge_schema the
        # frame may add (fresh physical names assigned above) or omit
        # (read null-fills) columns; otherwise names must match.
        known = {ln for ln, _ in cm_physical}
        unknown = [c for c in df.columns if c not in known]
        if unknown or (
            cm_evolution is None
            and [f.name for f in df.schema.fields] != [ln for ln, _ in cm_physical]
        ):
            raise DeltaSchemaMismatchError(
                f"write schema {[f.name for f in df.schema.fields]} differs "
                f"from table schema {[ln for ln, _ in cm_physical]}; pass "
                "merge_schema=True to add columns"
            )
        have = set(df.columns)
        df = df.select(
            *[F.col(ln).alias(pn) for ln, pn in cm_physical if ln in have]
        )
    adds = _stage_data_files(df, table_path, now_ms, partition_by)
    if obs is not None:
        violated = {n: v for n, v in obs.get.items() if v}
        if violated:
            # staged files are invisible; remove them
            unstage(table_path, [a["add"]["path"] for a in adds])
            details = ", ".join(
                f"{checks[n][0]} ({checks[n][1]}): {v} row(s)"
                for n, v in sorted(violated.items())
            )
            raise DeltaConstraintViolationError(
                f"write violates table invariant(s): {details}"
            )

    for attempt in range(max_retries + 1):
        version = table_version(table_path) + 1
        actions: list[dict] = []
        if version == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": list(partition_by or []),
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                }
            )
        else:
            # schema enforcement/evolution against the CURRENT snapshot
            # (re-checked per optimistic-concurrency attempt)
            state = _replay_state(table_path)
            existing = T.StructType.fromJson(
                json.loads(state.meta["schemaString"])
            )
            if cm_evolution is not None:
                pinned, evolved_md, new_cfg = cm_evolution
                if state.meta["schemaString"] != pinned:
                    raise DeltaConcurrentWriteError(
                        "concurrent commit changed the schema during a "
                        "column-mapping evolution; re-run the write"
                    )
                if mode == "append":
                    pa_ = _widening_protocol_action(
                        state, existing, evolved_md
                    )
                    if pa_ is not None:
                        actions.append(pa_)
                new_meta = dict(state.meta)
                new_meta["schemaString"] = evolved_md.json()
                new_meta["configuration"] = new_cfg
                actions.append({"metaData": new_meta})
            else:
                evolved = _evolve_schema(
                    existing, enforce_schema, mode, merge_schema
                )
                if evolved is not None:
                    pa_ = _widening_protocol_action(state, existing, evolved)
                    if pa_ is not None:
                        actions.append(pa_)
                    new_meta = dict(state.meta)
                    new_meta["schemaString"] = evolved.json()
                    actions.append({"metaData": new_meta})
        if mode == "overwrite" and version > 0:
            # re-read per attempt: the remove-set must reflect the
            # snapshot we are actually replacing, including files a
            # concurrent winner just added
            _, active = _replay(table_path)
            for path in active:
                actions.append(
                    {
                        "remove": {
                            "path": path,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
        if txn is not None:
            if version > 0 and _replay_state(table_path).txns.get(txn[0], -1) >= txn[1]:
                # a racing writer committed this batch between our
                # pre-check and this attempt: clean the invisible
                # staged files and skip
                unstage(table_path, [a["add"]["path"] for a in adds])
                return -1
            actions.append(
                {"txn": {"appId": txn[0], "version": int(txn[1]),
                         "lastUpdated": now_ms}}
            )
        actions.extend(adds)

        commit = os.path.join(_log_path(table_path), f"{version:020d}.json")
        body = "".join(
            json.dumps(a) + "\n"
            for a in [_commit_info("WRITE" if mode == "append" else "OVERWRITE", {"mode": mode, "partitionBy": partition_by or []})] + actions
        )
        if _put_if_absent(body, commit):
            if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(
                    table_path, version, _replay_state(table_path, version)
                )
            return version
    raise DeltaConcurrentWriteError(
        f"lost the commit race {max_retries + 1} times at {table_path}"
    )


# ------------------------------------------------------------- vacuum

def shallow_clone(src_path: str, dst_path: str) -> int:
    """SHALLOW CLONE: a new Delta table whose commit 0 references the
    SOURCE's current data files by ABSOLUTE path — zero bytes copied,
    the experimentation shape (fork a 100 TB table, mutate the fork,
    throw it away) at metadata cost. The clone owns its own log from
    here: appends land in the clone's directory, overwrites tombstone
    the absolute references (VACUUM walks only the clone's own
    directory, so source files are unreachable by construction), and
    merge-on-read deletes write DV sidecars in the clone against the
    source's files without touching them. Snapshot semantics: the
    clone pins the source AS OF clone time; later source commits don't
    appear (and a source VACUUM past its own retention can of course
    invalidate the clone — the documented shallow-clone trade-off).

    Partitioned sources clone too (round 6): the absolute references
    keep the source's hive layout, and the scan layer groups paths by
    hive ROOT — one basePath per referenced table root — so partition
    columns reconstruct correctly even when the clone mixes source
    references with its own later appends.

    Sources with live DELETION VECTORS clone too (round 6): sidecar
    paths are table-root-relative, so each live sidecar hard-links
    into the clone root under its unchanged name — the descriptors
    stay valid verbatim, the clone sees exactly the source's
    merge-on-read state, and the bitmaps are tiny (bytes per deleted
    row) so even the copy fallback is metadata-scale. Inline ("i")
    DVs travel inside the descriptor and need nothing."""
    state = _replay_state(src_path)
    if table_version(dst_path) >= 0:
        raise ValueError(f"destination {dst_path} already exists")
    os.makedirs(_log_path(dst_path), exist_ok=True)
    for add in state.active.values():
        desc = add.get("deletionVector")
        if not desc or desc.get("storageType") != "u":
            continue
        rel = _dv_sidecar_name(desc)
        src_bin = os.path.join(src_path, rel)
        dst_bin = os.path.join(dst_path, rel)
        if os.path.exists(dst_bin):
            continue  # several adds may share one sidecar file
        try:
            os.link(src_bin, dst_bin)
        except OSError:
            shutil.copy2(src_bin, dst_bin)
    now_ms = int(time.time() * 1000)
    new_meta = dict(state.meta)
    new_meta["id"] = str(uuid.uuid4())
    new_meta["createdTime"] = now_ms
    actions = [
        _commit_info("CLONE", {"source": src_path, "sourceVersion":
                               table_version(src_path)}),
        {"protocol": state.protocol
         or {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": new_meta},
    ]
    for rel, add in sorted(state.active.items()):
        a = dict(add)
        a["path"] = os.path.abspath(os.path.join(src_path, rel))
        # dataChange=TRUE: commit 0 is this table's creation — nothing
        # was visible before it, so CDC and the streaming source must
        # serve these rows as the initial snapshot (dataChange=false
        # is for rearrangements of already-visible data, e.g OPTIMIZE)
        a["dataChange"] = True
        actions.append({"add": a})
    body = "".join(json.dumps(a) + "\n" for a in actions)
    commit = os.path.join(_log_path(dst_path), f"{0:020d}.json")
    if not _put_if_absent(body, commit):
        raise DeltaConcurrentWriteError(f"clone raced at {dst_path}")
    return 0


def vacuum_delta(
    table_path: str,
    retention_hours: float = _DEFAULT_RETENTION_HOURS,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot
    whose ``remove`` tombstone is older than ``retention_hours``
    (Delta's ``deletedFileRetentionDuration``, default 168 h); returns
    the deleted file names. Untracked parquet files (no tombstone —
    e.g. debris from a crashed writer) fall back to file mtime for the
    age check. Time travel to versions whose files are removed stops
    working — exactly Delta's VACUUM trade-off. ``retention_hours=0``
    reclaims everything unreferenced immediately (compaction tests)."""
    state = _replay_state(table_path)
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    live_bins = set()
    for add in state.active.values():
        desc = add.get("deletionVector")
        if desc and desc.get("storageType") == "u":
            live_bins.add(_dv_sidecar_name(desc))
    deleted = []
    for root, dirs, fnames in os.walk(table_path):
        # never descend into the log or in-flight staging dirs
        dirs[:] = [
            d for d in dirs
            if d != _LOG_DIR and not d.startswith(".staging-")
        ]
        for fn in fnames:
            rel = os.path.relpath(os.path.join(root, fn), table_path)
            if fn.endswith(".parquet"):
                if rel in state.active:
                    continue
                ts = state.tombstones.get(rel)
            elif fn.endswith(".bin") and fn.startswith("deletion_vector_"):
                # DV sidecar: referenced iff some ACTIVE add points at
                # it (superseded DVs — re-deletes, purged files — age
                # out by mtime like any other unreferenced file)
                if fn in live_bins:
                    continue
                ts = None
            else:
                continue
            if ts is None:
                ts = os.path.getmtime(os.path.join(table_path, rel)) * 1000.0
            if ts <= cutoff_ms:
                if not dry_run:
                    os.remove(os.path.join(table_path, rel))
                deleted.append(rel)
    return sorted(deleted)


# ------------------------------------------------------------- delete

def _dv_scan(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    subset: dict[str, dict],
    keep_meta: bool = False,
    part_cols: list[str] | None = None,
    meta: dict | None = None,
):
    """Scan the given add-set with deletion vectors applied. With
    ``keep_meta`` the frame carries ``__file`` (data file name) and
    ``__idx`` (physical ``_metadata.row_index``) — the row identity a
    DV keys on — alongside the table columns. ``part_cols`` marks a
    hive-partitioned table (partition columns reconstructed from dir
    names via basePath). Pass ``meta`` so column-mapping tables scan
    under PHYSICAL names and surface logical ones (DV row identity is
    (file, index) — schema-agnostic, so the machinery composes)."""
    from pyspark.sql import functions as F

    from .delta_dv import deleted_rows_df

    read_schema = schema
    cm = None
    if meta is not None and column_mapping_enabled(meta):
        read_schema = _cm_physical_schema(schema)
        cm = list(zip([f.name for f in schema.fields],
                      [f.name for f in read_schema.fields]))
    scan = _scan_files(
        spark, table_path, read_schema, list(subset), part_cols or []
    )
    cols = [f.name for f in schema.fields]
    keyed = scan.withColumns(
        {
            "__file": F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            "__idx": F.col("_metadata.row_index"),
        }
    )
    if cm is not None:
        keyed = keyed.select(
            *[F.col(pn).alias(ln) for ln, pn in cm], "__file", "__idx"
        )
    dv_adds = {p: a for p, a in subset.items() if a.get("deletionVector")}
    if dv_adds:
        total = sum(a["deletionVector"].get("cardinality", 0) for a in dv_adds.values())
        deleted = deleted_rows_df(spark, table_path, dv_adds).withColumn(
            "__dv_file", F.element_at(F.split(F.col("__dv_file"), "/"), -1)
        )
        keyed = keyed.join(
            F.broadcast(deleted) if total <= 1_000_000 else deleted,
            on=[
                keyed["__file"] == F.col("__dv_file"),
                keyed["__idx"] == F.col("__dv_idx"),
            ],
            how="left_anti",
        )
    return keyed.select(*(cols + ["__file", "__idx"] if keep_meta else cols))


def delete_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    mode: str = "dv",
    max_retries: int = 3,
) -> int:
    """DELETE FROM the Delta table WHERE ``predicate`` (SQL over the
    table columns). Returns the committed version (the current version
    unchanged if nothing matched).

    ``mode="dv"`` is merge-on-read: each touched data file keeps its
    bytes; the matched physical row indices are serialized as a
    RoaringBitmapArray sidecar and the file's ``add`` is re-committed
    with a ``deletionVector`` descriptor (protocol readerVersion 3 /
    writerVersion 7 + the ``deletionVectors`` table feature, upgraded
    in the same commit on first use). Cost is O(matched rows), not
    O(touched bytes) — deleting one GDPR row from a 1 GB file writes
    ~50 bytes, the reason DVs exist. A file that already carries a DV
    gets the union of old + new indices (decoded executor-side).

    Scale design: the per-file bitmap is built and its sidecar written
    by ``applyInArrow`` ON THE EXECUTOR holding that file's matched
    rows — the driver sees only O(#touched files) descriptor rows, so
    a delete touching a million files never ships row indices through
    the driver. (Single sidecar per file per delete; tiny bitmaps go
    inline in the descriptor instead.)

    ``mode="rewrite"`` is classic copy-on-write: touched files are
    rewritten without the matched rows (no reader feature required;
    reads stay pure parquet scans)."""
    from pyspark.sql import functions as F

    if mode not in ("dv", "rewrite"):
        raise ValueError(f"mode must be dv|rewrite, got {mode!r}")

    for _attempt in range(max_retries + 1):
        read_version = table_version(table_path)
        if read_version < 0:
            raise FileNotFoundError(f"no Delta table at {table_path}")
        state = _replay_state(table_path)
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        active = state.active
        now_ms = int(time.time() * 1000)
        if not active:
            return read_version

        part_cols = state.meta.get("partitionColumns") or []
        live = _dv_scan(
            spark, table_path, schema, active, keep_meta=True,
            part_cols=part_cols, meta=state.meta,
        )
        matched = live.filter(F.expr(predicate))

        new_dv_files: list[str] = []
        if mode == "dv":
            touched_descs, new_dv_files = _write_dvs(matched, table_path, active)
            if not touched_descs:
                return read_version
            actions = _dv_actions(state, touched_descs, now_ms)
            adds_staged: list[dict] = []
        else:
            # __file is the BASENAME (uuid-unique); active keys are
            # table-relative paths (with hive partition dirs) — translate
            name_to_rel = {os.path.basename(p): p for p in active}
            touched_rows = matched.select("__file").distinct().collect()
            touched = sorted(name_to_rel[r["__file"]] for r in touched_rows)
            if not touched:
                return read_version
            sub = {p: active[p] for p in touched}
            keep = _dv_scan(
                spark, table_path, schema, sub, part_cols=part_cols,
                meta=state.meta,
            ).filter(~F.coalesce(F.expr(predicate), F.lit(False)))
            adds_staged = _stage_data_files(
                _cm_to_physical(state.meta, keep), table_path, now_ms,
                part_cols or None,
            )
            actions = [
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for p in touched
            ] + adds_staged

        commit = os.path.join(_log_path(table_path), f"{read_version + 1:020d}.json")
        body = "".join(
            json.dumps(a) + "\n"
            for a in [_commit_info("DELETE", {"predicate": predicate, "mode": mode})] + actions
        )
        if _put_if_absent(body, commit):
            version = read_version + 1
            if version % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(
                    table_path, version, _replay_state(table_path, version)
                )
            return version
        # lost the race: drop our sidecars / staged parts, re-run
        unstage(table_path, new_dv_files)
        unstage(table_path, [a["add"]["path"] for a in adds_staged])
    raise DeltaConcurrentWriteError(
        f"lost the delete commit race {max_retries + 1} times at {table_path}"
    )


def _dv_sidecar_name(desc: dict) -> str:
    from .delta_dv import descriptor_path

    return os.path.basename(descriptor_path("", desc))


def _write_dvs(
    matched: DataFrame, table_path: str, active: dict[str, dict]
) -> tuple[dict[str, dict], list[str]]:
    """Deletion vectors for the ``(__file, __idx)`` rows of ``matched``:
    each touched file's bitmap (its matched indices plus its existing
    DV, if any) is built and its sidecar written by ``applyInArrow`` ON
    THE EXECUTOR holding that file's rows, so the driver sees only
    O(#touched files) descriptors. Returns ``({table-relative path:
    new descriptor}, [new sidecar paths])``."""
    import pyarrow as pa

    from .delta_dv import load_dv, write_dv_file

    # __file is the BASENAME (uuid-unique); active keys are
    # table-relative paths (with hive partition dirs) — translate
    name_to_rel = {os.path.basename(p): p for p in active}
    old_descs = {
        os.path.basename(p): a["deletionVector"]
        for p, a in active.items()
        if a.get("deletionVector")
    }

    def build_dv(key, table):
        fname = key[0].as_py()
        idx = set(table["__idx"].to_pylist())
        if fname in old_descs:
            idx.update(load_dv(table_path, old_descs[fname]))
        desc = write_dv_file(table_path, {fname: sorted(idx)})[fname]
        return pa.table({"path": [fname], "desc_json": [json.dumps(desc)]})

    rows = (
        matched.select("__file", "__idx")
        .groupBy("__file")
        .applyInArrow(build_dv, "path string, desc_json string")
        .collect()
    )
    descs = {name_to_rel[r["path"]]: json.loads(r["desc_json"]) for r in rows}
    sidecars = [
        os.path.join(table_path, _dv_sidecar_name(d))
        for d in descs.values()
        if d["storageType"] == "u"
    ]
    return descs, sidecars


def _dv_actions(state, touched_descs: dict[str, dict], now_ms: int) -> list[dict]:
    """The commit actions that put ``touched_descs`` on their files:
    the ``deletionVectors`` protocol upgrade on first use, then a
    remove + re-add carrying the new descriptor per touched file."""
    actions: list[dict] = []
    proto = state.protocol or {}
    rf = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) < 3 or "deletionVectors" not in rf:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf | {"deletionVectors"}),
                    "writerFeatures": sorted(
                        set(proto.get("writerFeatures") or []) | {"deletionVectors"}
                    ),
                }
            }
        )
    for p, desc in sorted(touched_descs.items()):
        new_add = {k: v for k, v in state.active[p].items() if k != "deletionVector"}
        new_add["dataChange"] = True
        new_add["modificationTime"] = now_ms
        new_add["deletionVector"] = desc
        actions.append(
            {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
        )
        actions.append({"add": new_add})
    return actions


# -------------------------------------------------------------- merge

class DeltaMergeCardinalityError(RuntimeError):
    """Raised when more than one source row matches the same target
    row — the result of the update would be nondeterministic, so the
    merge is rejected (the same rule the Delta MERGE command applies)."""


def merge_delta(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    on: list[str],
    when_matched_update: dict[str, str] | str | None = "all",
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    max_retries: int = 3,
) -> int:
    """MERGE INTO the Delta table: upsert/delete ``source`` rows into
    the target by equi-key ``on``. Returns the committed version.

    Semantics (mirrors the Delta Lake MERGE command):

    - ``when_matched_delete``: SQL predicate over ``t``/``s`` aliases;
      matched rows satisfying it are deleted (checked before update).
    - ``when_matched_update``: ``"all"`` sets every target column to
      the source's value; a dict maps target column -> SQL expression
      over ``t`` (target) / ``s`` (source) aliases; ``None`` leaves
      matched rows unchanged.
    - ``when_not_matched_insert``: source rows matching no target row
      are inserted (columns missing from the source become NULL).
    - More than one source row matching one target row raises
      :class:`DeltaMergeCardinalityError` (nondeterministic update).

    Scale design: this is the FILE-PRUNED rewrite a real lakehouse
    merge does. Matching is one equi-join on the merge key; the set of
    data files that contain at least one matched row ("touched files")
    is found with ``input_file_name()`` + a semi-join against the
    source keys — driver-side metadata is only that file-name list.
    ONLY touched files are rewritten; untouched files (the overwhelming
    majority on a 100 TB table keyed by e.g. date) survive the commit
    unchanged, so merge cost is O(matched data + inserts), not
    O(table). The commit removes touched files and adds the rewritten
    + inserted parts in one atomic log entry; a concurrent commit
    between snapshot read and our put-if-absent loses nothing — the
    whole merge re-runs against the new snapshot (serializable, the
    strictest Delta isolation level)."""
    from pyspark.sql import functions as F

    for _attempt in range(max_retries + 1):
        read_version = table_version(table_path)
        if read_version < 0:
            raise FileNotFoundError(f"no Delta table at {table_path}")
        state = _replay_state(table_path)
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        active = state.active
        part_cols = state.meta.get("partitionColumns") or []
        cols = [f.name for f in schema.fields]
        now_ms = int(time.time() * 1000)

        src_cols = set(source.columns)
        missing = [k for k in on if k not in src_cols]
        if missing:
            raise ValueError(f"merge keys missing from source: {missing}")
        # Reject duplicate-key sources outright (slightly stricter than
        # the Delta command, which errors only when the duplicates
        # MATCH a target row): a merge keyed on `on` should leave the
        # table unique per key, and a dup that happens to miss today
        # corrupts that invariant silently.
        src = source
        dup = (
            src.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise DeltaMergeCardinalityError(
                f"multiple source rows share merge key {dict((k, dup[0][k]) for k in on)}"
            )

        if active:
            # DV-aware scan: a row already deleted by a deletion
            # vector must neither mark its file "touched" nor survive
            # into the rewrite below
            tgt = _dv_scan(
                spark, table_path, schema, active, keep_meta=True,
                part_cols=part_cols, meta=state.meta,
            )
            skeys = src.select(*on).distinct()
            touched_rows = (
                tgt.join(F.broadcast(skeys), on=on, how="leftsemi")
                .select("__file")
                .distinct()
                .collect()
            )
            # __file is the basename; active keys carry partition dirs
            name_to_rel = {os.path.basename(p): p for p in active}
            touched = sorted(name_to_rel[r["__file"]] for r in touched_rows)
        else:
            touched = []

        t_alias, s_alias = "t", "s"
        out_parts = []
        if touched:
            tt = _dv_scan(
                spark, table_path, schema, {p: active[p] for p in touched},
                part_cols=part_cols, meta=state.meta,
            ).alias(t_alias)
            joined = tt.join(
                src.alias(s_alias),
                on=[F.col(f"{t_alias}.{k}") == F.col(f"{s_alias}.{k}") for k in on],
                how="left",
            )
            matched = F.col(f"{s_alias}.{on[0]}").isNotNull()
            keep = F.lit(True)
            if when_matched_delete is not None:
                keep = ~(matched & F.expr(when_matched_delete))
            if when_matched_update == "all":
                upd = {
                    c: F.col(f"{s_alias}.{c}") for c in cols if c in src_cols
                }
            elif isinstance(when_matched_update, dict):
                upd = {c: F.expr(e) for c, e in when_matched_update.items()}
            else:
                upd = {}
            rewritten = joined.filter(keep).select(
                *[
                    (
                        F.when(matched, upd[c]).otherwise(F.col(f"{t_alias}.{c}"))
                        if c in upd
                        else F.col(f"{t_alias}.{c}")
                    ).cast(schema[c].dataType).alias(c)
                    for c in cols
                ]
            )
            out_parts.append(rewritten)

        if when_not_matched_insert:
            if touched:
                tkeys = (
                    _dv_scan(
                        spark, table_path, schema,
                        {p: active[p] for p in touched},
                        part_cols=part_cols, meta=state.meta,
                    )
                    .select(*on)
                    .distinct()
                )
                inserts = src.join(tkeys, on=on, how="leftanti")
            else:
                # no file contains any matching key -> every source row inserts
                inserts = src
            out_parts.append(
                inserts.select(
                    *[
                        (
                            F.col(c) if c in src_cols else F.lit(None)
                        ).cast(schema[c].dataType).alias(c)
                        for c in cols
                    ]
                )
            )

        adds: list[dict] = []
        if out_parts:
            out = out_parts[0]
            for extra in out_parts[1:]:
                out = out.unionByName(extra)
            adds = _stage_data_files(
                _cm_to_physical(state.meta, out), table_path, now_ms,
                part_cols or None,
            )

        actions: list[dict] = [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for p in touched
        ] + adds
        commit = os.path.join(_log_path(table_path), f"{read_version + 1:020d}.json")
        body = "".join(
            json.dumps(a) + "\n"
            for a in [_commit_info("MERGE", {"on": on})] + actions
        )
        if _put_if_absent(body, commit):
            version = read_version + 1
            if version % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(
                    table_path, version, _replay_state(table_path, version)
                )
            return version
        # lost the race: undo our staged parts and re-run the whole
        # merge against the new snapshot (serializable isolation)
        unstage(table_path, [a["add"]["path"] for a in adds])
    raise DeltaConcurrentWriteError(
        f"lost the merge commit race {max_retries + 1} times at {table_path}"
    )


# ----------------------------------------------------------- optimize

_ZORDER_BITS = 16


def _morton_key(df: DataFrame, zorder_by: list[str]) -> "DataFrame":
    """Attach ``_z``: the bit-interleaved (Morton) key of the z-order
    columns, each linearly binned to 16 bits between its table-wide
    min and max. One tiny min/max aggregate is collected (OPTIMIZE is
    a maintenance command — a driver action here is the norm, exactly
    like a file listing); the binning itself is pure expressions."""
    from pyspark.sql import functions as F

    aggs = []
    for c in zorder_by:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"_mx_{c}")]
    bounds = df.agg(*aggs).collect()[0]
    ncols = len(zorder_by)
    scaled = []
    for c in zorder_by:
        mn, mx = bounds[f"_mn_{c}"], bounds[f"_mx_{c}"]
        span = (mx - mn) if (mx is not None and mn is not None and mx > mn) else 1.0
        v = F.least(
            F.lit((1 << _ZORDER_BITS) - 1),
            F.floor(
                (F.col(c).cast("double") - F.lit(mn)) / F.lit(span)
                * F.lit(float((1 << _ZORDER_BITS) - 1))
            ).cast("long"),
        )
        scaled.append(F.coalesce(v, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(_ZORDER_BITS):
        for j, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, bit).bitwiseAND(F.lit(1)), bit * ncols + j
            )
    return df.withColumn("_z", z)


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_file_size: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    max_retries: int = 3,
) -> dict:
    """OPTIMIZE: rewrite data files for layout, changing no rows.

    - **Compaction** (default): active files smaller than half the
      target are bin-packed into ~target-size parts — the small-file
      cure for append-heavy tables (each streaming micro-batch or
      merge leaves small parts; scan cost is per-file overhead-bound
      long before it is byte-bound).
    - **Z-order** (``zorder_by``): ALL active files are rewritten,
      range-partitioned and sorted by the Morton interleave of the
      given columns, so each output file covers a tight hyper-rectangle
      of the z-space — after which the per-file min/max stats make
      :func:`read_delta`'s ``prune`` skip most files for selective
      multi-column predicates. This is the layout step that turns
      "scan 100 TB for one day x one tenant" into "read 3 files".

    Commits ``remove``(old) + ``add``(new) with ``dataChange=False``
    (readers of any version see identical rows; incremental consumers
    know nothing changed). Same put-if-absent optimistic-concurrency
    loop as writes; a lost race re-plans against the new snapshot.
    Returns ``{"version", "removed", "added"}`` (version None if
    nothing needed rewriting)."""
    from pyspark.sql import functions as F

    for _attempt in range(max_retries + 1):
        read_version = table_version(table_path)
        if read_version < 0:
            raise FileNotFoundError(f"no Delta table at {table_path}")
        state = _replay_state(table_path)
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        active = state.active
        part_cols = state.meta.get("partitionColumns") or []
        if zorder_by:
            victims = dict(active)
        else:
            # small files get bin-packed; DV'd files get rewritten too
            # (OPTIMIZE is the DV *purge* point: the rewrite drops the
            # deleted rows physically and the new add carries no DV)
            victims = {
                p: a for p, a in active.items()
                if a.get("size", 0) < target_file_size // 2
                or a.get("deletionVector")
            }
        n_dv = sum(1 for a in victims.values() if a.get("deletionVector"))
        if len(victims) < 2 and n_dv == 0:
            return {"version": None, "removed": [], "added": []}
        total = sum(a.get("size", 0) for a in victims.values())
        n_out = max(1, -(-total // target_file_size))
        now_ms = int(time.time() * 1000)

        src = _dv_scan(
            spark, table_path, schema, victims, part_cols=part_cols,
            meta=state.meta,
        )
        if zorder_by:
            keyed = _morton_key(src, zorder_by)
            packed = (
                keyed.repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            packed = src.repartition(n_out)
        adds = _stage_data_files(
            _cm_to_physical(state.meta, packed), table_path, now_ms,
            part_cols or None,
        )
        for a in adds:
            a["add"]["dataChange"] = False

        actions = [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                }
            }
            for p in victims
        ] + adds
        commit = os.path.join(_log_path(table_path), f"{read_version + 1:020d}.json")
        body = "".join(
            json.dumps(a) + "\n"
            for a in [_commit_info("OPTIMIZE", {"zorderBy": zorder_by or []})] + actions
        )
        if _put_if_absent(body, commit):
            version = read_version + 1
            if version % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(
                    table_path, version, _replay_state(table_path, version)
                )
            return {
                "version": version,
                "removed": sorted(victims),
                "added": [a["add"]["path"] for a in adds],
            }
        unstage(table_path, [a["add"]["path"] for a in adds])
    raise DeltaConcurrentWriteError(
        f"lost the optimize commit race {max_retries + 1} times at {table_path}"
    )


# --------------------------------------------------- change data feed

def _commit_changes(
    commit_file: str, version: int, rewrites_ok: bool = False
) -> tuple[dict[str, dict], dict[str, dict], bool]:
    """What commit ``version`` changed, from one parse of its actions
    (``dataChange=False`` layout actions do not count): ``(adds,
    dv_readds, removed)``. ``adds`` are the files it added (an add may
    carry a deletionVector) and ``dv_readds`` the files it re-added
    with a new deletionVector (a merge-on-read delete), both keyed by
    path; ``removed`` says whether it removed any file. A file removed
    without a DV re-add was rewritten in place, and its row-level
    changes are not derivable from the log: that raises unless
    ``rewrites_ok``."""
    adds: dict[str, dict] = {}
    removes: set[str] = set()
    with open(commit_file) as fh:
        for line in fh:
            if not line.strip():
                continue
            action = json.loads(line)
            if action.get("add", {}).get("dataChange"):
                adds[action["add"]["path"]] = action["add"]
            elif action.get("remove", {}).get("dataChange"):
                removes.add(action["remove"]["path"])
    readds = {
        p: adds.pop(p)
        for p in sorted(removes)
        if adds.get(p, {}).get("deletionVector")
    }
    rewrites = sorted(removes - set(readds))
    if rewrites and not rewrites_ok:
        raise ValueError(
            f"version {version} rewrites files in place ({rewrites[:3]}...): "
            "row-level changes are not derivable from the log — use "
            "merge-on-read deletes or materialized CDC for this table"
        )
    return adds, readds, bool(removes)


def table_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Derived Change Data Feed: row-level changes between snapshots,
    computed FROM THE LOG (the protocol's add/remove/deletionVector
    actions) with no materialized _change_data files. Returns the table
    columns plus ``_change_type`` ('insert' | 'delete') and
    ``_commit_version`` — the contract an incremental consumer
    (streaming backfill, downstream sync) reads.

    Exactly derivable commit kinds:

    - **append** (adds only): every row of the added files is an
      'insert' at that version;
    - **DV delete** (remove+re-add of the same path with a new
      deletionVector): the 'delete' rows are the NEW deleted-set minus
      the OLD — computed as an executor-side anti-join of the two
      decoded DV frames, never driver-materialized;
    - **layout commits** (``dataChange=False``: OPTIMIZE/Z-order):
      no changes, skipped.

    Rewrite commits (copy-on-write delete/merge/overwrite: a
    dataChange remove of one file plus adds of different files) are
    NOT row-derivable from the log — the file diff conflates updated
    rows with co-located untouched ones. This function raises for
    those versions rather than emit false changes; pipelines that
    rewrite in place and need CDC should write through merge-on-read
    deletes (``delete_delta(mode='dv')``) or materialize CDC at write
    time. (The same boundary the reference Delta implementation draws:
    without the CDF table feature enabled, changes are only derivable
    from blind appends and pure deletes.)"""
    from pyspark.sql import functions as F

    from .delta_dv import deleted_rows_df

    commits = dict(_commit_files(table_path))
    if to_version is None:
        to_version = table_version(table_path)
    end_state = _replay_state(table_path, to_version)
    schema = T.StructType.fromJson(json.loads(end_state.meta["schemaString"]))
    # column mapping: physicalName is stable across renames, so every
    # historical file reads under the END snapshot's mapping and the
    # feed reports the END logical names (CDF's usual contract)
    _cm = (
        list(_cm_map(schema).items())
        if column_mapping_enabled(end_state.meta)
        else None
    )
    part_cols = end_state.meta.get("partitionColumns") or []
    cols = [f.name for f in schema.fields]

    frames: list[DataFrame] = []
    for v in range(from_version, to_version + 1):
        if v not in commits:
            raise ValueError(f"version {v} not in log")
        adds, dv_pairs, _ = _commit_changes(commits[v], v)

        if adds:
            ins = _dv_scan(
                spark, table_path, schema, adds, part_cols=part_cols,
                meta=end_state.meta,
            ).select(
                *cols,
                F.lit("insert").alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )
            frames.append(ins)

        if dv_pairs:
            old_state = _replay_state(table_path, v - 1)
            new_del = deleted_rows_df(spark, table_path, dv_pairs)
            old_dv = {
                p: a
                for p, a in old_state.active.items()
                if p in dv_pairs and a.get("deletionVector")
            }
            if old_dv:
                old_del = deleted_rows_df(spark, table_path, old_dv)
                new_del = new_del.join(
                    old_del.withColumnsRenamed(
                        {"__dv_file": "__o_f", "__dv_idx": "__o_i"}
                    ),
                    on=[
                        new_del["__dv_file"] == F.col("__o_f"),
                        new_del["__dv_idx"] == F.col("__o_i"),
                    ],
                    how="left_anti",
                )
            delta_del = new_del.withColumn(
                "__dv_file", F.element_at(F.split("__dv_file", "/"), -1)
            )
            scan = _scan_files(
                spark, table_path,
                _cm_physical_schema(schema) if _cm else schema,
                list(dv_pairs), part_cols,
            )
            keyed = scan.withColumns(
                {
                    "__file": F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ),
                    "__idx": F.col("_metadata.row_index"),
                }
            )
            if _cm:
                keyed = keyed.select(
                    *[F.col(pn).alias(ln) for ln, pn in _cm],
                    "__file", "__idx",
                )
            dels = keyed.join(
                delta_del,
                on=[
                    keyed["__file"] == F.col("__dv_file"),
                    keyed["__idx"] == F.col("__dv_idx"),
                ],
                how="leftsemi",
            ).select(
                *cols,
                F.lit("delete").alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )
            frames.append(dels)

    if not frames:
        out_schema = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.IntegerType(), False),
            ]
        )
        return spark.createDataFrame([], out_schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ------------------------------------------------------------- update

def update_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    set_exprs: dict[str, str],
    max_retries: int = 3,
) -> int:
    """UPDATE ... SET ... WHERE — merge-on-read, ONE atomic commit:
    matched rows get deletion-vector'd out of their files AND re-appended
    with the ``set_exprs`` applied (SQL expressions over the row's
    columns), so the commit is O(matched rows) written + O(matched)
    sidecar bytes, never a rewrite of touched files. Readers of the
    committed version see exactly the updated table; readers of prior
    versions are untouched. Returns the committed version (unchanged
    if nothing matched).

    This is the DV-era UPDATE shape: compare a classic copy-on-write
    UPDATE on a 100 TB table where one row per file changes — CoW
    rewrites every touched file (~the whole table), this writes one
    small parquet of updated rows plus tiny bitmaps."""
    from pyspark.sql import functions as F

    bad = predicate is None or not isinstance(set_exprs, dict) or not set_exprs
    if bad:
        raise ValueError("update_delta needs a predicate and a non-empty set_exprs")

    for _attempt in range(max_retries + 1):
        read_version = table_version(table_path)
        if read_version < 0:
            raise FileNotFoundError(f"no Delta table at {table_path}")
        state = _replay_state(table_path)
        schema = T.StructType.fromJson(json.loads(state.meta["schemaString"]))
        cols = [f.name for f in schema.fields]
        unknown = [c for c in set_exprs if c not in cols]
        if unknown:
            raise ValueError(f"SET columns not in table: {unknown}")
        active = state.active
        now_ms = int(time.time() * 1000)
        if not active:
            return read_version

        part_cols = state.meta.get("partitionColumns") or []
        live = _dv_scan(
            spark, table_path, schema, active, keep_meta=True,
            part_cols=part_cols, meta=state.meta,
        )
        matched = live.filter(F.expr(predicate))

        # new rows: matched with SET applied (cast back to the column type)
        updated = matched.select(
            *[
                (
                    F.expr(set_exprs[c]).cast(schema[c].dataType).alias(c)
                    if c in set_exprs
                    else F.col(c)
                )
                for c in cols
            ]
        )
        adds_staged = _stage_data_files(
            _cm_to_physical(state.meta, updated), table_path, now_ms,
            part_cols or None,
        )
        if not adds_staged:
            return read_version

        # DVs for the matched rows' OLD positions (union with existing)
        touched_descs, new_dv_files = _write_dvs(matched, table_path, active)
        if not touched_descs:
            # predicate matched nothing after all (race with the write
            # above staging empty parts shouldn't happen, but be safe)
            unstage(table_path, [a["add"]["path"] for a in adds_staged])
            return read_version
        actions = _dv_actions(state, touched_descs, now_ms)
        actions.extend(adds_staged)

        commit = os.path.join(_log_path(table_path), f"{read_version + 1:020d}.json")
        body = "".join(
            json.dumps(a) + "\n"
            for a in [_commit_info("UPDATE", {"predicate": predicate})] + actions
        )
        if _put_if_absent(body, commit):
            version = read_version + 1
            if version % _CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(
                    table_path, version, _replay_state(table_path, version)
                )
            return version
        unstage(table_path, new_dv_files)
        unstage(table_path, [a["add"]["path"] for a in adds_staged])
    raise DeltaConcurrentWriteError(
        f"lost the update commit race {max_retries + 1} times at {table_path}"
    )


# ------------------------------------------------------------ restore

def restore_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp_as_of=None,
) -> int:
    """RESTORE TABLE TO VERSION — commit a new version whose active
    file set equals the target snapshot's: removes files added since,
    re-adds files removed since (possible while VACUUM's retention
    window holds them — the same constraint the reference RESTORE
    documents). History is preserved: the restore is itself a commit,
    so nothing is rewritten and the mis-step remains auditable.
    ``timestamp_as_of`` restores to the latest version committed at or
    before the given time instead (RESTORE ... TO TIMESTAMP AS OF)."""
    if (version is None) == (timestamp_as_of is None):
        raise ValueError("pass exactly one of version, timestamp_as_of")
    if timestamp_as_of is not None:
        version = version_at_timestamp(table_path, timestamp_as_of)
    cur_version = table_version(table_path)
    if cur_version < 0:
        raise FileNotFoundError(f"no Delta table at {table_path}")
    target = _replay_state(table_path, version)
    current = _replay_state(table_path)
    now_ms = int(time.time() * 1000)

    # files the restore re-activates must still exist on disk
    missing = [
        p for p in target.active
        if p not in current.active
        and not os.path.exists(os.path.join(table_path, p))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to version {version}: data files vacuumed "
            f"({missing[:3]}...)"
        )

    actions: list[dict] = []
    if target.meta.get("schemaString") != current.meta.get("schemaString"):
        actions.append({"metaData": target.meta})
    for p in current.active:
        if p not in target.active or current.active[p] != target.active[p]:
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    for p, add in target.active.items():
        if p not in current.active or current.active[p] != add:
            actions.append({"add": add})
    if not actions:
        return cur_version  # already identical

    new_version = cur_version + 1
    commit = os.path.join(_log_path(table_path), f"{new_version:020d}.json")
    body = "".join(
        json.dumps(a) + "\n"
        for a in [_commit_info("RESTORE", {"version": version})] + actions
    )
    if not _put_if_absent(body, commit):
        raise DeltaConcurrentWriteError(
            f"concurrent commit during restore at {table_path}"
        )
    if new_version % _CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(
            table_path, new_version, _replay_state(table_path, new_version)
        )
    return new_version


# --------------------------------------------------------------- diff

def snapshot_diff(
    spark: SparkSession,
    table_path: str,
    version_a: int,
    version_b: int,
    key_cols: list[str],
) -> DataFrame:
    """Semantic row diff between two snapshots, keyed by ``key_cols``:
    returns ``(key..., _diff)`` with ``_diff`` in
    'added' | 'removed' | 'changed'. Works for ANY commit history —
    including the in-place rewrites :func:`table_changes` refuses —
    because it compares table STATES, not log actions: one full outer
    join of the two snapshot reads on the key, with non-key columns
    compared null-safely. Cost is O(both snapshots) (the price of not
    having derivable changes; prefer the CDF when the history allows
    it)."""
    from pyspark.sql import functions as F

    a = read_delta(spark, table_path, version_as_of=version_a).alias("a")
    b = read_delta(spark, table_path, version_as_of=version_b).alias("b")
    val_cols = [c for c in a.columns if c not in key_cols]
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    joined = a.join(b, on=cond, how="full_outer")
    a_present = F.col(f"a.{key_cols[0]}").isNotNull()
    b_present = F.col(f"b.{key_cols[0]}").isNotNull()
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    diff = (
        F.when(~a_present, F.lit("added"))
        .when(~b_present, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        joined.select(
            *[
                F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
                for k in key_cols
            ],
            diff.alias("_diff"),
        )
        .filter(F.col("_diff").isNotNull())
    )


def count_delta(table_path: str, version_as_of: int | None = None) -> int | None:
    """METADATA-ONLY row count: sum of the adds' ``numRecords`` stats
    minus their deletion-vector cardinalities — COUNT(*) without
    touching a single data file (the optimization a lakehouse reader
    applies when every active add carries stats; a 100 TB count
    becomes a log replay). Returns None when any active file lacks
    stats (caller falls back to a scan) — never guesses."""
    state = _replay_state(table_path, version_as_of)
    total = 0
    for add in state.active.values():
        raw = add.get("stats")
        if not raw:
            return None
        stats = json.loads(raw) if isinstance(raw, str) else raw
        n = stats.get("numRecords")
        if n is None:
            return None
        total += int(n)
        dv = add.get("deletionVector")
        if dv:
            total -= int(dv.get("cardinality", 0))
    return total
