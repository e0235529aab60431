"""Plan inspection helpers — make "is this the plan I want?" testable.

Used by tests and the perf pass to assert scale-critical properties:
filters reached the parquet scan, small dims went broadcast, no
unexpected cartesian products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Plan-node name fragments of every operator that runs Python per row or
# per batch (python_transform's is ``MapInArrow``); a plan that claims to
# stay in whole-stage codegen contains none of them.
PYTHON_NODE_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan carries a pushed filter containing
    ``fragment`` (check `.explain` PushedFilters)."""
    return fragment in plan_str(df)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_str(df) or "BroadcastNestedLoopJoin" in plan_str(df)


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges (broadcast exchanges excluded — a
    broadcast is the thing that SAVES the shuffle)."""
    plan = physical_plan(df)
    return (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )


def has_codegen(df: DataFrame) -> bool:
    """True if any stage is whole-stage-codegen compiled. AQE only
    materializes the final plan during execution, so this runs the
    frame through the noop sink first and then reads the executed
    plan's `*(n)` markers."""
    if "*(" in physical_plan(df):
        return True
    # df.collect() drives THIS frame's QueryExecution (a count()/noop
    # write would plan a separate execution and leave ours unadapted)
    df.collect()
    return "*(" in physical_plan(df)


def field_lineage(df: DataFrame, transform_name: str = "Python") -> dict:
    """Submit-time field lineage, mirroring the reference's
    ``FieldTransformOperation(name, description, inFields, outFields)``
    (reference ``PythonEvaluator.java:242-259``): input fields are what
    the scans actually read (post column-pruning), output fields are
    the result schema."""
    inputs: list[str] = []
    for line in plan_str(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            body = line.split("struct<", 1)[-1].rstrip(">")
            inputs.extend(f.split(":")[0] for f in body.split(",") if f)
    return {
        "operation": transform_name,
        "in_fields": sorted(set(inputs)),
        "out_fields": df.columns,
    }


def field_transform_operation(
    script: str,
    input_df: DataFrame,
    output_df: DataFrame,
    name: str = "Python",
) -> dict:
    """CDAP wire-format field-lineage record for a python_transform —
    the exact shape the reference emits at submit time (reference
    ``PythonEvaluator.java:242-259``:
    ``new FieldTransformOperation("Python", config.script,
    inputFields, outputFields)`` where the field lists are the full
    declared input/output schema names, and FieldTransformOperation
    carries OperationType TRANSFORM). Unlike :func:`field_lineage`
    (plan-derived, post-pruning), this mirrors the reference: inputs
    are the DECLARED input schema, not what the optimized scan reads."""
    return {
        "name": name,
        "description": script,
        "inputFields": list(input_df.columns),
        "outputFields": list(output_df.columns),
        "type": "TRANSFORM",
    }


def _walk_logical(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_logical(it.next())


def unpartitioned_unbounded_windows(df: DataFrame) -> list[str]:
    """Scale lint: Window nodes with an EMPTY partitionSpec whose input
    subtree carries no Limit. An unpartitioned window collapses its
    whole input onto one task — fine above a ``limit(k)`` (top-k
    re-rank) or a provably tiny frame (hourly spine), fatal over an
    unbounded one (a 100 TB vocabulary through one partition). Walks
    the ANALYZED logical plan (no jobs run, no AQE ambiguity); a
    localCheckpoint hides its subtree, which is correct — checkpointed
    inputs were shaped by their own plan test. Returns a description
    per offending node (empty list == lint-clean)."""
    out: list[str] = []
    plan = df._jdf.queryExecution().analyzed()
    for node in _walk_logical(plan):
        if node.getClass().getSimpleName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        bounded = any(
            child.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit")
            for child in _walk_logical(node)
        )
        if not bounded:
            out.append(node.simpleString(120))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists from every file scan in the plan —
    verify column pruning (a 2-column projection must not scan 16)."""
    out = []
    for line in plan_str(df).splitlines():
        if "ReadSchema" in line:
            out.append(line.strip())
    return out
