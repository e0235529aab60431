"""The record-level Python transform operator — the engine's core.

Reproduces the full surface of the reference's ``PythonEvaluator``
plugin (reference ``PythonEvaluator.java:61-300``,
``docs/PythonEvaluator-transform.md``) as one vectorized Spark
operator:

- user code is ``def transform(record, emitter, context)`` — a dict in,
  zero-or-more emits out (reference ``PythonEvaluator.java:262-266``).
- ``emitter.emit(dict)`` -> main output port; ``emitter.emitError({
  'errorCode': int, 'errorMsg': str, 'invalidRecord': dict})`` -> error
  port; ``emitter.emitAlert(dict[str,str])`` -> alert port (reference
  ``PythonEvaluator.java:188-207``).
- declared output schema re-shapes emitted dicts: schema fields missing
  from the dict become null, dict keys not in the schema are dropped
  (reference ``PythonObjectsEncoder.java:148-156``); no schema -> output
  schema = input schema (reference ``PythonEvaluator.java:98-101``).
- ``context`` carries runtime arguments, a logger, metric counters and
  lookups (reference ``PythonEvaluator.java:268-289``). Unlike the
  reference — whose ``getLookup`` throws UnsupportedOperationException
  (``PythonEvaluator.java:271-276``) — lookups here actually work,
  backed by Spark broadcast variables.
- deploy-time fail-fast: the script is ``compile()``d and the schema
  parsed on the driver before any job is launched (reference
  ``configurePipeline``, ``PythonEvaluator.java:216-240``).
- a Python exception inside user code fails the task wrapped in
  ``PythonTransformError("Could not transform input.")`` (reference
  ``JythonPythonExecutor.java:83-86``), or with ``on_error='route'`` is
  redirected to the error port instead.

Architecture vs the reference: the reference crosses a process boundary
**per record and again per emit** over a TLS loopback RPC
(``Py4jPythonExecutor.java:226-237``) or re-executes the script per
record in Jython (``JythonPythonExecutor.java:78-81``). Here the user
function crosses the JVM<->Python boundary once per **Arrow batch**
(``mapInArrow``), the script is compiled once per Python worker process
(and ``exec``-ed once per task), and Spark reuses Python workers — the
per-record cost is a plain Python function call. Records are decoded
from and encoded to Arrow directly (``_batch_to_records`` /
``_records_to_batch``), with no pandas step.
This is the single biggest architectural win and why no custom
channel/TLS code (``KeyStores.java``) is needed: Spark owns the
executor<->worker channel.

Scale note (100 TB): the transform is an optimization barrier — Catalyst
cannot push filters/prunes through opaque Python. The engine therefore
(a) exposes ``columnar_transform`` so expression-shaped transforms stay
JVM-side in whole-stage codegen, and (b) users should ``select``/
``filter`` **before** ``python_transform`` so the parquet scan prunes.
"""

from __future__ import annotations

import functools
import logging
import traceback
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from datetime import timezone
from typing import TYPE_CHECKING, Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from python_plugins_spark.schema import cdap_schema_to_spark
from python_plugins_spark.session import stage_checkpoint
from python_plugins_spark.sources.io import spread_scan

if TYPE_CHECKING:
    import pandas as pd

PORT_OUT = "out"
PORT_ERROR = "error"
PORT_ALERT = "alert"

ERROR_SCHEMA_FIELDS = ("errorCode", "errorMsg", "invalidRecord")


class PythonTransformError(RuntimeError):
    """User script failed for a record (reference wraps this as
    ``IllegalArgumentException("Could not transform input.")``)."""


class ScriptValidationError(ValueError):
    """Deploy-time script syntax error (reference fails pipeline
    creation in ``configurePipeline``, ``PythonEvaluator.java:232-239``)."""


def _python2_rewrite(script: str) -> str:
    """Best-effort Python-2 -> 3 source rewrite (print statement,
    ``has_key``, ``except E, e``, ``<>``, ``raise E, v``, ``xrange``,
    long/octal literals). The reference's Interpreted mode is Jython
    2.5 and its own test scripts are Python 2 (``print "emitting..."``,
    ``PythonTransformNativeTest.java:60-62``), so a verbatim CDAP
    migration script must still run here. Implemented on the stdlib
    ``tokenize`` module (operators/py2shim.py) — the previous
    ``lib2to3`` engine is removed in Python 3.13. Scripts the rewriter
    cannot mechanically convert keep raising
    :class:`ScriptValidationError`."""
    from python_plugins_spark.operators.py2shim import python2_to_3

    return python2_to_3(script)


@functools.lru_cache(maxsize=64)
def _compile_script(script: str):
    """Compile, falling back to the Python-2 shim on SyntaxError.
    Returns the code object; raises :class:`ScriptValidationError`
    (carrying the ORIGINAL syntax error) if neither parse succeeds.
    Used on the driver (validation) and in Python workers (fn load), so
    a py2 script behaves identically in both places. Memoized per
    process on the script text, so a reused worker compiles (and
    rewrites) a script once; a failure is not cached."""
    try:
        return compile(script, "<python_transform>", "exec")
    except SyntaxError as exc:
        try:
            rewritten = _python2_rewrite(script)
            return compile(rewritten, "<python_transform>", "exec")
        except ScriptValidationError:
            raise
        except Exception:
            raise ScriptValidationError(f"could not compile script: {exc}") from exc


def validate_script(script: str) -> None:
    """Driver-side fail-fast compile check (EP1 parity)."""
    _compile_script(script)


def _load_transform_fn(script: str) -> Callable:
    namespace: dict[str, Any] = {}
    exec(_compile_script(script), namespace)
    fn = namespace.get("transform")
    if not callable(fn):
        raise ScriptValidationError("script must define `def transform(record, emitter, context)`")
    return fn


class _Arguments:
    """Runtime arguments, reference-style ``context.getArguments().get(k)``
    (reference ``PythonEvaluator.java:284``, test
    ``PythonEvaluatorTest.java:136-150``)."""

    def __init__(self, args: dict[str, Any]):
        self._args = dict(args)

    def get(self, key: str, default: Any = None) -> Any:
        return self._args.get(key, default)

    def has(self, key: str) -> bool:
        return key in self._args

    def as_dict(self) -> dict[str, Any]:
        return dict(self._args)

    # camelCase alias for scripts written against the CDAP API
    asDict = as_dict


class _Metrics:
    """Per-record counters (reference ``context.getMetrics().count``,
    wired at ``PythonEvaluator.java:268-284``).

    Backed by Spark accumulators when declared up front via
    ``python_transform(..., metrics=[...])``. Undeclared names count
    into a task-local dict (visible in executor logs at task end) so
    user code never crashes. Accumulator caveat vs the reference:
    Spark accumulators are at-least-once under task retries.
    """

    def __init__(self, accumulators: dict[str, Any]):
        self._acc = accumulators
        self._local: dict[str, int] = {}

    def count(self, name: str, delta: int = 1) -> None:
        acc = self._acc.get(name)
        if acc is not None:
            acc.add(delta)
        else:
            self._local[name] = self._local.get(name, 0) + delta

    def local_counts(self) -> dict[str, int]:
        return dict(self._local)


class _Lookups:
    def __init__(self, lookups: dict[str, Any]):
        self._lookups = lookups

    def get(self, name: str):
        if name not in self._lookups:
            raise KeyError(
                f"lookup {name!r} not provided; pass lookups={{...}} to python_transform"
            )
        value = self._lookups[name]
        # Broadcast variables resolve lazily on the worker.
        return value.value if hasattr(value, "value") else value


class ScriptContext:
    """What user code sees as ``context`` — mirrors the reference's
    ``ScriptContext`` (logger/metrics/arguments/lookup)."""

    def __init__(
        self,
        args: dict[str, Any],
        metrics: _Metrics,
        lookups: dict[str, Any],
        logger: logging.Logger,
    ):
        self._arguments = _Arguments(args)
        self._metrics = metrics
        self._lookups = _Lookups(lookups)
        self._logger = logger

    def get_arguments(self) -> _Arguments:
        return self._arguments

    def get_logger(self) -> logging.Logger:
        return self._logger

    def get_metrics(self) -> _Metrics:
        return self._metrics

    def get_lookup(self, name: str):
        return self._lookups.get(name)

    # camelCase aliases so scripts written for the reference run as-is
    getArguments = get_arguments
    getLogger = get_logger
    getMetrics = get_metrics
    getLookup = get_lookup


class Emitter:
    """Multi-port emitter (reference ``PythonEmitter``,
    ``PythonEvaluator.java:174-212``)."""

    __slots__ = ("rows", "errors", "alerts")

    def __init__(self):
        self.rows: list[dict] = []
        self.errors: list[dict] = []
        self.alerts: list[dict] = []

    def emit(self, record: dict) -> None:
        self.rows.append(record)

    def emit_error(self, error: dict) -> None:
        self.errors.append(error)

    def emit_alert(self, payload: dict) -> None:
        self.alerts.append({str(k): str(v) for k, v in payload.items()})

    # camelCase aliases (reference API surface)
    emitError = emit_error
    emitAlert = emit_alert


def _is_numpy_type(t: pa.DataType) -> bool:
    """Types whose values convert through one numpy ``tolist()`` —
    5-30x faster than ``to_pylist``, which builds a scalar per value."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    )


def _has_map(t: pa.DataType) -> bool:
    if pa.types.is_map(t):
        return True
    if pa.types.is_struct(t):
        return any(_has_map(f.type) for f in t)
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return _has_map(t.value_type)
    return False


def _maps_as_dicts(value: Any, t: pa.DataType) -> Any:
    """``to_pylist`` yields a map as (key, value) pairs; the script gets
    a dict, at any depth (pyarrow 16 has no ``maps_as_pydicts``)."""
    if value is None or not _has_map(t):
        return value
    if pa.types.is_map(t):
        return {k: _maps_as_dicts(v, t.item_type) for k, v in value}
    if pa.types.is_struct(t):
        return {f.name: _maps_as_dicts(value[f.name], f.type) for f in t}
    return [_maps_as_dicts(v, t.value_type) for v in value]


def _column_values(col: pa.Array) -> list:
    """One Arrow column -> plain Python values, nulls as None. Integers
    stay ``int`` and arrays are ``list`` whether or not the batch holds
    nulls (reference ``PythonObjectsEncoder.java:44-45,53-54``);
    timestamps are naive ``datetime`` in the session time zone."""
    t = col.type
    if pa.types.is_timestamp(t) and t.tz is not None:
        col = pc.local_timestamp(col)
    if not _is_numpy_type(t):
        values = col.to_pylist()
        return [_maps_as_dicts(v, t) for v in values] if _has_map(t) else values
    if not col.null_count or pa.types.is_string(t) or pa.types.is_large_string(t):
        # strings convert their nulls to None themselves
        return col.to_numpy(zero_copy_only=False).tolist()
    fill = pa.scalar(False if pa.types.is_boolean(t) else 0, col.type)
    values = col.fill_null(fill).to_numpy(zero_copy_only=False).tolist()
    for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)).tolist():
        values[i] = None
    return values


def _batch_to_records(batch: pa.RecordBatch) -> list[dict]:
    """Arrow batch -> list of plain-Python dicts (the reference's
    ``encodeRecord``, ``PythonObjectsEncoder.java:70-76``, done
    batch-at-a-time, one column conversion each)."""
    names = batch.schema.names
    columns = [_column_values(col) for col in batch.columns]
    return [dict(zip(names, row)) for row in zip(*columns)]


def _to_array(values: list, t: pa.DataType) -> pa.Array:
    """Spark's own rule for pandas UDF output (``arrow_cast`` on,
    safecheck off): convert to the declared type, else infer and cast
    unsafely. NaN and NaT become null, as they did through pandas."""
    if pa.types.is_timestamp(t):
        # pyarrow keeps an aware datetime's wall time under a declared
        # type; naive values already are session (UTC) wall time
        values = [
            v.astimezone(timezone.utc) if getattr(v, "tzinfo", None) is not None else v
            for v in values
        ]
    try:
        return pa.array(values, type=t, from_pandas=True)
    except pa.ArrowInvalid:
        return pa.array(values, from_pandas=True).cast(t, safe=False)


def _arrow_schema(spark, schema: T.StructType) -> pa.Schema:
    """``schema`` in Arrow, with the string and binary widths Spark's
    Python workers read (``spark.sql.execution.arrow.useLargeVarTypes``)."""
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes", "false")
    return to_arrow_schema(schema, prefers_large_types=large.lower() == "true")


def _row_map(fn: Callable[..., Iterable[tuple]], schema: pa.Schema):
    """The worker side of :func:`map_rows`: each Arrow batch in becomes
    one batch under ``schema`` out, holding every tuple ``fn`` yields
    for the batch's rows, in order."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [out for row in zip(*map(_column_values, batch.columns)) for out in fn(*row)]
            columns = list(zip(*rows, strict=True)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [_to_array(list(v), t) for v, t in zip(columns, schema.types)], schema=schema
            )

    return run


def map_rows(
    df: DataFrame,
    cols: list[str],
    schema: str | T.StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Run ``fn`` on every row of ``df.select(*cols)`` in one narrow
    ``mapInArrow`` pass: ``fn(*values)`` gets one row's plain Python
    values (``int`` for integers, ``bytes`` for binary, ``None`` for
    null) and yields zero or more tuples in the field order of
    ``schema`` (DDL or ``StructType``). Values cross through the record
    transform's codec (:func:`_column_values` in, :func:`_to_array`
    out), so every per-row Python map in the engine shares one
    Arrow<->Python value rule."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    run = _row_map(fn, _arrow_schema(df.sparkSession, schema))
    return df.select(*cols).mapInArrow(run, schema)


def _records_to_batch(
    rows: list[dict], schema: pa.Schema, tags: dict[str, list] | None = None
) -> pa.RecordBatch:
    """Emitted dicts -> one Arrow batch under the declared output schema:
    schema fields missing from a dict become null, extra dict keys are
    dropped (reference ``PythonObjectsEncoder.java:148-156``). ``tags``
    gives whole columns by name (the multi-port frame's ``_port``,
    ``_error``, ``_alert``); the row-derived columns are null past
    ``len(rows)``."""
    tags = tags or {}
    n = len(next(iter(tags.values()))) if tags else len(rows)
    pad = [None] * (n - len(rows))
    arrays = [
        _to_array(tags[name] if name in tags else [r.get(name) for r in rows] + pad, t)
        for name, t in zip(schema.names, schema.types)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


@dataclass
class TransformResult:
    """Three lazily-derived views over one tagged physical pass.

    ``output``/``errors``/``alerts`` all filter the same tagged frame;
    call ``persist()`` before consuming more than one port or the
    transform recomputes per action (SURVEY.md §7 multi-port note).
    """

    output: DataFrame
    errors: DataFrame | None = None
    alerts: DataFrame | None = None
    _tagged: DataFrame | None = None
    _accumulators: dict | None = None

    def metrics_values(self) -> dict[str, int]:
        """Driver-side values of the declared metric counters after an
        action has run (reference: ``context.getMetrics().count`` wired
        through StageMetrics, ``PythonEvaluator.java:268-284``). Spark
        accumulators are at-least-once under task retries."""
        return {name: acc.value for name, acc in (self._accumulators or {}).items()}

    def persist(self, level: str = "MEMORY_AND_DISK") -> "TransformResult":
        if self._tagged is not None:
            from pyspark import StorageLevel

            self._tagged.persist(getattr(StorageLevel, level))
        return self

    def unpersist(self) -> "TransformResult":
        if self._tagged is not None:
            self._tagged.unpersist()
        return self

    def localCheckpoint(self, eager: bool = True) -> "TransformResult":
        """Materialize the tagged frame ONCE and re-derive the port
        views from the materialized blocks — the multi-consumer
        barrier without the session-lifetime cache leak of a bare
        ``persist()``. Routed through
        :func:`python_plugins_spark.session.stage_checkpoint`, so the
        strategy (localCheckpoint default; persist / reliable
        checkpoint for cluster runs on preemptible hardware) follows
        the session-wide ``spark.python_plugins.stageMaterialize``
        conf like every other shared stage in the library.
        ``eager=False`` keeps the pre-round-10 deferred contract (no
        job at call time) via a direct lazy localCheckpoint —
        stage_checkpoint is always eager by design, so the conf modes
        apply only to the default eager path."""

        if self._tagged is None:
            return self
        if eager:
            tagged = stage_checkpoint(self._tagged)
        else:
            tagged = self._tagged.localCheckpoint(eager=False)
        out_names = self.output.columns
        return TransformResult(
            output=tagged.filter(F.col("_port") == PORT_OUT).select(*out_names),
            errors=(
                tagged.filter(F.col("_port") == PORT_ERROR).select("_error.*")
                if self.errors is not None
                else None
            ),
            alerts=(
                tagged.filter(F.col("_port") == PORT_ALERT).select(
                    F.col("_alert").alias("alert")
                )
                if self.alerts is not None
                else None
            ),
            _tagged=tagged,
            _accumulators=self._accumulators,
        )


def python_transform(
    df: DataFrame,
    script: str | None = None,
    func: Callable | None = None,
    output_schema: str | dict | T.StructType | None = None,
    args: dict[str, Any] | None = None,
    lookups: dict[str, Any] | None = None,
    metrics: list[str] | None = None,
    emit_errors: bool = False,
    emit_alerts: bool = False,
    on_error: str = "fail",
    batch_mode: bool = False,
) -> TransformResult:
    """Run ``transform(record, emitter, context)`` over every record.

    Parameters
    ----------
    df : input DataFrame (batch or streaming).
    script : source text defining ``transform`` (the reference's config
        surface); validated with ``compile()`` driver-side.
    func : alternatively a Python callable with the same signature.
    output_schema : CDAP/Avro JSON string, Spark DDL, or StructType;
        None -> input schema passes through (reference
        ``PythonEvaluator.java:227-229``).
    args : runtime arguments, ``context.get_arguments().get(k)``.
    lookups : name -> dict or Broadcast; ``context.get_lookup(name)``.
    metrics : metric names to back with Spark accumulators.
    emit_errors / emit_alerts : materialize those ports (same flags as
        the reference widget, ``widgets/PythonEvaluator-transform.json:51-52``).
    on_error : 'fail' (reference behavior: task fails wrapped in
        PythonTransformError) or 'route' (failing record goes to the
        error port with errorCode=1 and the traceback as errorMsg).
    batch_mode : if True, user func receives a pandas DataFrame and
        returns one (vectorized escape hatch; no emitter semantics).
    """
    if (script is None) == (func is None):
        raise ValueError("pass exactly one of script= or func=")
    if on_error not in ("fail", "route"):
        raise ValueError("on_error must be 'fail' or 'route'")
    if on_error == "route":
        emit_errors = True

    if script is not None:
        validate_script(script)

    input_schema = df.schema
    out_schema = (
        input_schema if output_schema is None else cdap_schema_to_spark(output_schema)
    )

    args = args or {}
    lookups = lookups or {}

    # The Python loop is CPU-bound per record; an under-split scan
    # (one small parquet file -> 1-3 splits) would serialize it on a
    # few cores.
    df = spread_scan(df)

    accumulators: dict[str, Any] = {}
    if metrics:
        sc = df.sparkSession.sparkContext
        accumulators = {name: sc.accumulator(0) for name in metrics}

    if batch_mode:
        if func is None:
            raise ValueError("batch_mode requires func=")
        user_batch_fn = func

        def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield user_batch_fn(pdf)

        return TransformResult(
            output=df.mapInPandas(run_batches, out_schema), _accumulators=accumulators
        )

    multi_port = emit_errors or emit_alerts
    out_names = out_schema.fieldNames()
    in_names = input_schema.fieldNames()
    spark_schema = out_schema
    if multi_port:
        # One physical pass emits a tagged frame; each port is a filtered
        # view (SURVEY.md §2a #2-4 mapping). The main-output fields are
        # FLAT columns of the tagged frame (not a nested struct): the
        # common case is ~all rows on the main port, and flat scalar
        # columns convert to Arrow several times faster than per-row
        # struct dicts.
        reserved = {"_port", "_error", "_alert"}
        if reserved & set(out_names):
            raise ValueError(
                f"output schema field names {reserved & set(out_names)} collide "
                "with the multi-port tag columns"
            )
        error_struct = T.StructType(
            [
                T.StructField("errorCode", T.IntegerType(), True),
                T.StructField("errorMsg", T.StringType(), True),
                T.StructField("invalidRecord", input_schema, True),
            ]
        )
        spark_schema = T.StructType(
            [T.StructField("_port", T.StringType(), False)]
            + [T.StructField(f.name, f.dataType, True) for f in out_schema.fields]
            + [
                T.StructField("_error", error_struct, True),
                T.StructField("_alert", T.MapType(T.StringType(), T.StringType()), True),
            ]
        )
    arrow_schema = _arrow_schema(df.sparkSession, spark_schema)

    def assemble(emitter: Emitter) -> pa.RecordBatch:
        if not multi_port:
            return _records_to_batch(emitter.rows, arrow_schema)
        n_o, n_e, n_a = len(emitter.rows), len(emitter.errors), len(emitter.alerts)
        error_rows = [
            {
                "errorCode": int(e.get("errorCode", 0) or 0),
                "errorMsg": e.get("errorMsg"),
                "invalidRecord": {n: (e.get("invalidRecord") or {}).get(n) for n in in_names},
            }
            for e in emitter.errors
        ]
        tags = {
            "_port": [PORT_OUT] * n_o + [PORT_ERROR] * n_e + [PORT_ALERT] * n_a,
            "_error": [None] * n_o + error_rows + [None] * n_a,
            "_alert": [None] * (n_o + n_e) + emitter.alerts,
        }
        return _records_to_batch(emitter.rows, arrow_schema, tags)

    def make_fn():
        """Build the worker-side batch function. The script is compiled
        once per Python worker process (parity with the reference's
        compile-once, ``JythonPythonExecutor.java:58-62``) and executed
        once per task, so module-level script state starts fresh in
        each task — never per record."""
        captured_script = script
        captured_func = func
        captured_args = args
        captured_lookups = lookups
        captured_acc = accumulators
        route = on_error == "route"

        def transform_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            fn = captured_func if captured_func is not None else _load_transform_fn(captured_script)
            logger = logging.getLogger("python_transform")
            context = ScriptContext(
                captured_args, _Metrics(captured_acc), captured_lookups, logger
            )
            for batch in batches:
                emitter = Emitter()
                for record in _batch_to_records(batch):
                    try:
                        fn(record, emitter, context)
                    except Exception as exc:
                        if route:
                            emitter.emit_error(
                                {
                                    "errorCode": 1,
                                    "errorMsg": "".join(
                                        traceback.format_exception_only(type(exc), exc)
                                    ).strip(),
                                    "invalidRecord": record,
                                }
                            )
                        else:
                            raise PythonTransformError(
                                "Could not transform input.\n"
                                + traceback.format_exc()
                            ) from exc
                yield assemble(emitter)
            local = context.get_metrics().local_counts()
            if local:
                logger.info("python_transform local metrics: %s", local)

        return transform_batches

    mapped = df.mapInArrow(make_fn(), spark_schema)
    if not multi_port:
        return TransformResult(output=mapped, _accumulators=accumulators)

    output = mapped.filter(F.col("_port") == PORT_OUT).select(*out_names)
    errors = mapped.filter(F.col("_port") == PORT_ERROR).select("_error.*")
    alerts = (
        mapped.filter(F.col("_port") == PORT_ALERT).select(F.col("_alert").alias("alert"))
        if emit_alerts
        else None
    )
    return TransformResult(
        output=output, errors=errors, alerts=alerts, _tagged=mapped, _accumulators=accumulators
    )


def columnar_transform(
    df: DataFrame,
    exprs: dict[str, Column | str],
    drop: list[str] | None = None,
    where: Column | str | None = None,
) -> DataFrame:
    """The JVM-side fast path for transforms expressible as column
    expressions — stays inside whole-stage codegen, preserves pushdown
    (SURVEY.md §4 mitigation b). ``exprs`` maps output column name to a
    Column or SQL expression string; existing columns pass through."""
    result = df
    for name, expr in exprs.items():
        col = F.expr(expr) if isinstance(expr, str) else expr
        result = result.withColumn(name, col)
    if drop:
        result = result.drop(*drop)
    if where is not None:
        result = result.filter(F.expr(where) if isinstance(where, str) else where)
    return result
