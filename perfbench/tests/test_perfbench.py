"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import datagen, stats
from perfbench.trace import Span, parse_metric, self_times
from perfbench.workloads import progress_layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d):
    return {name: open(os.path.join(d, name), "rb").read() for name in sorted(os.listdir(d))}


def test_star_schema_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_star_schema(str(a), 0.001)
    datagen.write_star_schema(str(b), 0.001)
    assert _files(a) == _files(b)
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in datagen.STAR_TABLES)


def test_evaluator_table_is_deterministic_per_seed(tmp_path):
    paths = [str(tmp_path / f"{i}.parquet") for i in range(3)]
    datagen.write_evaluator_table(paths[0], 5000, seed=7)
    datagen.write_evaluator_table(paths[1], 5000, seed=7)
    datagen.write_evaluator_table(paths[2], 5000, seed=8)
    data = [open(p, "rb").read() for p in paths]
    assert data[0] == data[1]
    assert data[0] != data[2]
    table = datagen.evaluator_table(5000, seed=7)
    bad = sum(1 for c in table.column("code").to_pylist() if not c.isdigit())
    assert 0 < bad < 200  # ~1% malformed codes
    assert table.column("qty").null_count > 0


def test_stream_events_are_deterministic():
    a = datagen.stream_events(3, 5, 1000, 50, 12.5)
    b = datagen.stream_events(3, 5, 1000, 50, 12.5)
    c = datagen.stream_events(4, 5, 1000, 50, 12.5)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.column("event_id").to_pylist() == list(range(1000, 1050))
    assert set(a.column("created_s").to_pylist()) == {12.5}


def test_stream_latency_arithmetic():
    # three micro-batches emitting events created at known times
    batches = [
        {"epoch": 0, "ids": [0, 1], "created": [10.0, 10.0], "done": 10.8},
        {"epoch": 1, "ids": [2, 3, 4], "created": [10.5, 10.5, 11.0], "done": 11.6},
        {"epoch": 2, "ids": [5], "created": [11.5], "done": 13.0},
    ]
    lat = stats.event_latencies(batches)
    assert lat == pytest.approx([0.8, 0.8, 1.1, 1.1, 0.6, 1.5])
    assert stats.percentile(lat, 50) == pytest.approx(0.8)
    assert stats.percentile(lat, 95) == pytest.approx(1.5)
    assert stats.exactly_once(range(6), batches) == (0, 0)
    assert stats.exactly_once(range(7), batches) == (1, 0)
    dup = batches + [{"epoch": 2, "ids": [5], "created": [11.5], "done": 13.1}]
    assert stats.exactly_once(range(6), dup) == (0, 1)


def test_progress_layers_on_synthetic_log():
    progress = [
        {"batchId": 0, "numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "numInputRows": 200, "durationMs": {
            "triggerExecution": 600, "addBatch": 400, "latestOffset": 40, "commitOffsets": 50}},
        {"batchId": 2, "numInputRows": 400, "durationMs": {
            "triggerExecution": 800, "addBatch": 500, "latestOffset": 60, "commitOffsets": 70}},
        {"batchId": 3, "numInputRows": 200, "durationMs": {
            "triggerExecution": 700, "addBatch": 450, "latestOffset": 50, "commitOffsets": 60}},
    ]
    got = progress_layers(progress)
    assert got["streaming.batches"] == 3
    assert got["streaming.trigger_p50_s"] == pytest.approx(0.7)
    assert got["streaming.add_batch_p50_s"] == pytest.approx(0.45)
    assert got["streaming.latest_offset_p50_s"] == pytest.approx(0.05)
    assert got["streaming.commit_p50_s"] == pytest.approx(0.06)
    assert got["streaming.rows_per_batch_p50"] == 200


def test_self_times_subtract_covered_children():
    spans = [
        Span("op", 0.0, 10.0, None, "q", 0),
        Span("queries.build", 0.0, 3.0, 0, "q", 1),
        Span("materialize", 3.0, 9.0, 0, "q", 2),
        Span("inner", 4.0, 5.0, 2, "q", 3),
    ]
    got = self_times(spans)
    assert got == pytest.approx({"op": 1.0, "queries.build": 3.0, "materialize": 5.0, "inner": 1.0})


class _Sampler:
    peak_total_kb = peak_workers_kb = 2048
    max_workers = 4

    def jvm_peak_kb(self):
        return 1024


def test_per_layer_is_per_pass_except_run_wide_values():
    from perfbench.run import per_layer
    from perfbench.trace import Tracer
    from perfbench.workloads import Result

    res = Result(passes=3)
    res.layers.update({
        "pipeline.compile_s": 0.6, "exec.tasks": 21.0, "transform.rows_from_py": 3000.0,
        "transform.py_total_task_s": 0.03, "transform.error_rows": 5.0, "streaming.batches": 10.0,
    })
    tr = Tracer(enabled=True)
    for i in range(3):
        tr.add_span("pipeline.compile", float(i), i + 0.2, op=f"evaluator#{i}")
    tr.add_span("stream.compile", 10.0, 11.0, op="stream")
    names = [m["name"] for m in _bench()["per_layer"]]
    e2e = {"pass_s": 1.0, "latency_p50_s": 0.5}
    got = per_layer(res, (3.0, 2.0, 1.0), [_Sampler()], tr, e2e, names)
    assert got["pipeline.compile_s"] == pytest.approx(0.2)
    assert got["exec.tasks"] == pytest.approx(7.0)
    assert got["transform.us_per_record"] == pytest.approx(10.0)  # 0.03 s over 3000 rows
    assert got["transform.error_rows"] == 5.0
    assert got["streaming.batches"] == 10.0
    # the stream's one compile is not a batch pass's
    assert got["self.pipeline.compile_s"] == pytest.approx(0.2)
    assert got["session.get_spark_s"] == 2.0 and got["mem.jvm_rss_mb"] == 1.0


def test_parse_status_store_metrics():
    assert parse_metric("100,000", "sum") == 100_000
    assert parse_metric("0.0 B", "size") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n783.3 KiB (195.8 KiB, ...)", "size") == pytest.approx(
        783.3 * 1024
    )
    assert parse_metric("total (min, med, max)\n5.7 s (1.2 s, 1.4 s, 1.7 s)", "timing") == pytest.approx(5.7)
    assert parse_metric("10 ms", "timing") == pytest.approx(0.01)


def test_benchmark_json_shape():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in bench["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])


def _run(workload: str, trace: int, cwd: str = ROOT, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("headline", 0), ("evaluator", 1)])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    run_root = os.path.join(ROOT, "perfbench", ".run")
    before = set(os.listdir(run_root)) if os.path.isdir(run_root) else set()
    # the headline smoke run checks every query's content hash, not one pick
    proc = _run(workload, trace, ROOT, *(["--content-checks", "22"] if workload == "headline" else []))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    if workload == "headline":
        assert result["attempted"] >= 2 * 22  # row counts and content hashes
    bench = _bench()
    declared = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == set(declared)
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name]
        assert isinstance(m["value"], (int, float))
    after = set(os.listdir(run_root)) if os.path.isdir(run_root) else set()
    assert after <= before  # the run removed its own directory


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".run"))
    proc = _run("evaluator", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
