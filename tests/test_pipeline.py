"""Pipeline-spec runner (pipeline.py): DAG interpretation, lazy
compilation, multi-input joins, error ports, and deploy-time
validation of bad documents."""

import pytest
from pyspark.sql import functions as F

from python_plugins_spark.pipeline import PipelineSpecError, run_pipeline


def test_pipeline_join_and_projection(spark, sf_dir):
    spec = {
        "stages": [
            {"name": "cust", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"name": "nat", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "nat_p", "type": "transform.projection",
             "config": {"rename": {"n_nationkey": "c_nationkey"},
                        "select": ["c_nationkey", "n_name"]}},
            {"name": "joined", "type": "batchjoiner",
             "config": {"joinKeys": ["c_nationkey"]}},
            {"name": "agg", "type": "batchaggregator.groupby",
             "config": {"groupByFields": ["n_name"],
                        "aggregates": [
                            {"name": "n", "function": "count", "field": "*"},
                            {"name": "max_bal", "function": "max",
                             "field": "c_acctbal"}]}},
        ],
        "connections": [
            {"from": "nat", "to": "nat_p"},
            {"from": "cust", "to": "joined"},
            {"from": "nat_p", "to": "joined"},
            {"from": "joined", "to": "agg"},
        ],
    }
    frames = run_pipeline(spark, spec)
    out = frames["agg"]
    got = {r.n_name: r.n for r in out.collect()}
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    want = {
        r.n_name: r.n
        for r in cust.join(
            nat, cust.c_nationkey == nat.n_nationkey
        ).groupBy("n_name").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_pipeline_lakehouse_time_travel_sources(spark, tmp_path):
    """batchsource.delta/iceberg accept the round-6 time-travel
    selectors in the spec (version_as_of / timestamp_as_of and
    snapshot_id / ref / as_of_timestamp) — a pinned-snapshot pipeline
    is reproducible no matter when it re-runs."""
    import time as _time

    import python_plugins_spark.sources.delta_py as dp
    import python_plugins_spark.sources.iceberg_py as I

    dt = str(tmp_path / "tt_delta")
    it = str(tmp_path / "tt_ice")
    dp.write_delta(spark.range(5).selectExpr("id", "id * 2.0 AS v"), dt, "overwrite")
    I.write_iceberg(spark.range(7).selectExpr("id", "id * 2.0 AS v"), it, "overwrite")
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    dp.write_delta(spark.range(5, 9).selectExpr("id", "id * 2.0 AS v"), dt, "append")
    I.write_iceberg(spark.range(7, 9).selectExpr("id", "id * 2.0 AS v"), it, "append")

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "d_now", "type": "batchsource.delta",
             "config": {"path": dt}},
            {"name": "d_then", "type": "batchsource.delta",
             "config": {"path": dt, "timestamp_as_of": t_mid}},
            {"name": "d_v0", "type": "batchsource.delta",
             "config": {"path": dt, "version_as_of": 0}},
            {"name": "i_then", "type": "batchsource.iceberg",
             "config": {"path": it, "as_of_timestamp": t_mid}},
            {"name": "i_snap", "type": "batchsource.iceberg",
             "config": {"path": it, "snapshot_id": 1}},
        ],
        "connections": [],
    })
    assert frames["d_now"].count() == 9
    assert frames["d_then"].count() == 5
    assert frames["d_v0"].count() == 5
    assert frames["i_then"].count() == 7
    assert frames["i_snap"].count() == 7


def test_pipeline_python_stage_error_port(spark, sf_dir):
    spec = {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "ev", "type": "transform.python",
             "config": {
                 "script": (
                     "def transform(record, emitter, context):\n"
                     "    if record['o_orderkey'] % 100 == 0:\n"
                     "        emitter.emitError({'errorCode': 7,\n"
                     "                           'errorMsg': 'mod100',\n"
                     "                           'invalidRecord': record})\n"
                     "    else:\n"
                     "        emitter.emit(record)\n"
                 ),
                 "on_error": "route",
             }},
        ],
        "connections": [{"from": "src", "to": "ev"}],
    }
    frames = run_pipeline(spark, spec)
    n_src = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_out = frames["ev"].count()
    n_err = frames["ev.error"].count()
    assert n_out + n_err == n_src and n_err > 0


def test_pipeline_compile_time_validation(spark, sf_dir):
    src = {"name": "s", "type": "batchsource.parquet",
           "config": {"path": f"{sf_dir}/nation.parquet"}}
    with pytest.raises(PipelineSpecError, match="cycle"):
        run_pipeline(spark, {
            "stages": [src,
                       {"name": "a", "type": "transform.filter",
                        "config": {"condition": "1=1"}},
                       {"name": "b", "type": "transform.filter",
                        "config": {"condition": "1=1"}}],
            "connections": [{"from": "a", "to": "b"}, {"from": "b", "to": "a"}],
        })
    with pytest.raises(PipelineSpecError, match="unknown type"):
        run_pipeline(spark, {
            "stages": [src, {"name": "x", "type": "transform.frobnicate",
                             "config": {}}],
            "connections": [{"from": "s", "to": "x"}],
        })
    with pytest.raises(PipelineSpecError, match="input"):
        run_pipeline(spark, {
            "stages": [src, {"name": "j", "type": "batchjoiner",
                             "config": {"joinKeys": ["k"]}}],
            "connections": [{"from": "s", "to": "j"}],
        })
    with pytest.raises(PipelineSpecError, match="unknown stage"):
        run_pipeline(spark, {
            "stages": [src],
            "connections": [{"from": "ghost", "to": "s"}],
        })


def test_pipeline_single_fused_plan(spark, sf_dir):
    """Stages must compile into ONE plan: the filter stage's predicate
    reaches the parquet scan through the projection stage."""
    from python_plugins_spark.plans import plan_str

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"name": "proj", "type": "transform.projection",
             "config": {"select": ["c_custkey", "c_nationkey"]}},
            {"name": "flt", "type": "transform.filter",
             "config": {"condition": "c_nationkey < 5"}},
        ],
        "connections": [{"from": "src", "to": "proj"},
                        {"from": "proj", "to": "flt"}],
    })
    plan = plan_str(frames["flt"])
    assert "PushedFilters" in plan and "c_nationkey" in plan


def test_pipeline_router_and_error_port_wiring(spark, sf_dir):
    """Router ports (first-match-wins) and the python stage's error
    port must wire downstream via port-qualified connections."""
    spec = {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"name": "route", "type": "transform.router",
             "config": {"ports": [
                 {"port": "rich", "condition": "c_acctbal >= 5000"},
                 {"port": "poor", "condition": "c_acctbal < 0"},
             ]}},
            {"name": "rich_n", "type": "batchaggregator.groupby",
             "config": {"groupByFields": ["c_mktsegment"],
                        "aggregates": [{"name": "n", "function": "count",
                                        "field": "*"}]}},
            {"name": "ev", "type": "transform.python",
             "config": {
                 "script": (
                     "def transform(record, emitter, context):\n"
                     "    emitter.emitError({'errorCode': 1, 'errorMsg': 'x',\n"
                     "                       'invalidRecord': record})\n"
                 ),
                 "on_error": "route",
             }},
            {"name": "err_n", "type": "batchaggregator.groupby",
             "config": {"groupByFields": ["errorCode"],
                        "aggregates": [{"name": "n", "function": "count",
                                        "field": "*"}]}},
        ],
        "connections": [
            {"from": "src", "to": "route"},
            {"from": "route.rich", "to": "rich_n"},
            {"from": "route.poor", "to": "ev"},
            {"from": "ev.error", "to": "err_n"},
        ],
    }
    frames = run_pipeline(spark, spec)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n_rich = c.filter("c_acctbal >= 5000").count()
    n_poor = c.filter("c_acctbal < 0").count()
    n_def = c.count() - n_rich - n_poor
    assert frames["route.rich"].count() == n_rich
    assert frames["route.default"].count() == n_def
    got_rich = sum(r.n for r in frames["rich_n"].collect())
    assert got_rich == n_rich
    err_rows = frames["err_n"].collect()
    assert sum(r.n for r in err_rows) == n_poor
    # consuming a port that does not exist fails at compile
    with pytest.raises(PipelineSpecError, match="unknown port"):
        run_pipeline(spark, {
            "stages": [
                {"name": "s", "type": "batchsource.parquet",
                 "config": {"path": f"{sf_dir}/nation.parquet"}},
                {"name": "f", "type": "transform.filter",
                 "config": {"condition": "1=1"}},
            ],
            "connections": [{"from": "s.ghost", "to": "f"}],
        })


def test_pipeline_router_null_condition_goes_default(spark, tmp_path):
    """A row whose routing expression evaluates to NULL is an UNMATCHED
    row: CDAP router semantics send it to the default port — it must
    not vanish from every port."""
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0), (4, 7000.0)],
        "id long, bal double",
    ).write.parquet(src_path)
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "s", "type": "batchsource.parquet",
             "config": {"path": src_path}},
            {"name": "r", "type": "transform.router",
             "config": {"ports": [
                 {"port": "hi", "condition": "bal >= 5000"},
                 {"port": "neg", "condition": "bal < 0"},
             ]}},
        ],
        "connections": [{"from": "s", "to": "r"}],
    })
    assert {r.id for r in frames["r.hi"].collect()} == {4}
    assert {r.id for r in frames["r.neg"].collect()} == {3}
    assert {r.id for r in frames["r.default"].collect()} == {1, 2}


def test_pipeline_iceberg_sink_honors_partition_by(spark, sf_dir, tmp_path):
    """batchsink.iceberg must forward partitionBy (or reject it), never
    silently write an unpartitioned table."""
    from python_plugins_spark.sources.iceberg_py import (
        current_metadata_version, read_iceberg,
    )

    tbl = str(tmp_path / "nation_iceberg")
    run_pipeline(spark, {
        "stages": [
            {"name": "s", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "k", "type": "batchsink.iceberg",
             "config": {"path": tbl, "partitionBy": ["n_regionkey"]}},
        ],
        "connections": [{"from": "s", "to": "k"}],
    })
    import json as _json
    import os as _os

    v = current_metadata_version(tbl)
    meta = _json.loads(
        open(_os.path.join(tbl, "metadata", f"v{v}.metadata.json")).read()
    )
    fields = meta["partition-specs"][0]["fields"]
    assert [f["name"] for f in fields] == ["n_regionkey"]
    got = read_iceberg(spark, tbl)
    want = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    # multi-column partitionBy composes (round-4 multi-field specs)
    t2 = str(tmp_path / "t2")
    run_pipeline(spark, {
        "stages": [
            {"name": "s", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "k", "type": "batchsink.iceberg",
             "config": {"path": t2,
                        "partitionBy": ["n_regionkey", "n_name"]}},
        ],
        "connections": [{"from": "s", "to": "k"}],
    })
    v2 = current_metadata_version(t2)
    meta2 = _json.loads(
        open(_os.path.join(t2, "metadata", f"v{v2}.metadata.json")).read()
    )
    assert [f["name"] for f in meta2["partition-specs"][0]["fields"]] == [
        "n_regionkey", "n_name"
    ]
    assert read_iceberg(spark, t2).count() == want.count()


def test_pipeline_streaming_ports_batch_spec_verbatim(spark, sf_dir, tmp_path):
    """The reference deploys unchanged in batch AND streaming pipelines
    (pom.xml:134-137): the SAME transform stages (python transform with
    error port, filter, projection) must produce identical results when
    only the source/sink stage types are swapped."""
    transform_stages = [
        {"name": "ev", "type": "transform.python",
         "config": {
             "script": (
                 "def transform(record, emitter, context):\n"
                 "    if record['o_totalprice'] is None:\n"
                 "        emitter.emitError({'errorCode': 1, 'errorMsg': 'np',\n"
                 "                           'invalidRecord': record})\n"
                 "    else:\n"
                 "        record['fee'] = record['o_totalprice'] * 0.01\n"
                 "        emitter.emit(record)\n"
             ),
             "schema": ("o_orderkey long, o_custkey long, "
                        "o_totalprice double, fee double"),
             "on_error": "route",
         }},
        {"name": "flt", "type": "transform.filter",
         "config": {"condition": "fee > 1000"}},
        {"name": "proj", "type": "transform.projection",
         "config": {"select": ["o_orderkey", "fee"]}},
    ]
    wiring = [
        {"from": "src", "to": "ev"},
        {"from": "ev", "to": "flt"},
        {"from": "flt", "to": "proj"},
        {"from": "proj", "to": "sink"},
    ]
    batch = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            *transform_stages,
            {"name": "sink", "type": "batchsink.parquet",
             "config": {"path": str(tmp_path / "batch_out")}},
        ],
        "connections": wiring,
    })
    streaming = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            *transform_stages,
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": "port_verbatim_sink",
                        "allowRawMemorySink": True}},
        ],
        "connections": wiring,
    })
    b = sorted((r.o_orderkey, round(r.fee, 6)) for r in batch["proj"].collect())
    s = sorted((r.o_orderkey, round(r.fee, 6))
               for r in streaming["sink"].collect())
    assert b == s and len(b) > 0


def test_pipeline_streaming_windowed_agg_and_delta_sink(spark, sf_dir, tmp_path):
    """streamingaggregator.windowed_groupby + streamingsink.delta: the
    drained Delta table must equal the batch windowed aggregation."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "win_delta")
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "agg", "type": "streamingaggregator.windowed_groupby",
             "config": {"eventTime": "ts", "windowDuration": "5 minutes",
                        "watermark": "10 minutes",
                        "groupByFields": ["event_type"],
                        "aggregates": [
                            {"name": "n", "function": "count", "field": "*"}]}},
            {"name": "sink", "type": "streamingsink.foreachbatch",
             "config": {"script": (
                 "import python_plugins_spark.sources.delta_py as dp\n"
                 "def process(df, epoch_id):\n"
                 "    if not df.isEmpty():\n"
                 f"        dp.write_delta(df, {out!r}, mode='append')\n"
             )}},
        ],
        "connections": [{"from": "src", "to": "agg"},
                        {"from": "agg", "to": "sink"}],
    })
    # append-mode windowed agg emits only watermark-closed windows; the
    # batch reference is the same agg restricted to emitted windows
    from python_plugins_spark.sources.delta_py import read_delta

    got = {
        (str(r.window_start), r.event_type): r.n
        for r in read_delta(spark, out).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want_all = {
        (str(r.window_start), r.event_type): r.n
        for r in ev.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        ).agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert got  # something was emitted
    for k, v in got.items():
        assert want_all[k] == v  # every emitted window is exactly right


def test_pipeline_streaming_sink_validation(spark, sf_dir):
    """Deploy-time validation: batch sinks reject streaming frames and
    vice versa."""
    with pytest.raises(PipelineSpecError, match="STREAMING"):
        run_pipeline(spark, {
            "stages": [
                {"name": "s", "type": "streamingsource.file",
                 "config": {"path": f"{sf_dir}/nation.parquet"}},
                {"name": "k", "type": "batchsink.parquet",
                 "config": {"path": "/tmp/never"}},
            ],
            "connections": [{"from": "s", "to": "k"}],
        })
    with pytest.raises(PipelineSpecError, match="STREAMING"):
        run_pipeline(spark, {
            "stages": [
                {"name": "s", "type": "batchsource.parquet",
                 "config": {"path": f"{sf_dir}/nation.parquet"}},
                {"name": "k", "type": "streamingsink.memory",
                 "config": {"allowRawMemorySink": True}},
            ],
            "connections": [{"from": "s", "to": "k"}],
        })


def test_pipeline_raw_memory_sink_refused(spark, sf_dir):
    """streamingsink.memory + append on an UN-aggregated stream is the
    r5 driver-OOM shape (every stream row into one JVM heap) — the
    runner must refuse it, naming the executor-side file sinks, unless
    the spec opts in for a bounded debug fixture. Aggregated (complete/
    append-with-watermark) and deduplicated streams stay allowed: append
    emits only finalized groups / distinct keys."""
    with pytest.raises(PipelineSpecError, match="allowRawMemorySink"):
        run_pipeline(spark, {
            "stages": [
                {"name": "s", "type": "streamingsource.file",
                 "config": {"path": f"{sf_dir}/events.parquet"}},
                {"name": "k", "type": "streamingsink.memory",
                 "config": {"queryName": "raw_refused"}},
            ],
            "connections": [{"from": "s", "to": "k"}],
        })
    # the refusal names the scale-safe alternative
    try:
        run_pipeline(spark, {
            "stages": [
                {"name": "s", "type": "streamingsource.file",
                 "config": {"path": f"{sf_dir}/events.parquet"}},
                {"name": "k", "type": "streamingsink.memory", "config": {}},
            ],
            "connections": [{"from": "s", "to": "k"}],
        })
    except PipelineSpecError as e:
        assert "streamingsink.parquet" in str(e)
        assert "streamingsink.delta" in str(e)


def test_pipeline_streaming_delta_source_roundtrip(spark, sf_dir, tmp_path):
    """streamingsource.delta reads this repo's Delta tables through the
    runner; the drained memory sink sees every committed row."""
    from python_plugins_spark.sources.delta_py import write_delta

    tbl = str(tmp_path / "src_delta")
    df = spark.range(50).selectExpr("id", "id % 5 as g")
    write_delta(df.filter("id < 30"), tbl, "overwrite")
    write_delta(df.filter("id >= 30"), tbl, "append")
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "s", "type": "streamingsource.delta",
             "config": {"path": tbl}},
            {"name": "f", "type": "transform.filter",
             "config": {"condition": "g != 4"}},
            {"name": "k", "type": "streamingsink.memory",
             "config": {"queryName": "delta_rt_sink",
                        "allowRawMemorySink": True}},
        ],
        "connections": [{"from": "s", "to": "f"}, {"from": "f", "to": "k"}],
    })
    assert {r.id for r in frames["k"].collect()} == {
        i for i in range(50) if i % 5 != 4
    }


def test_pipeline_joiner_condition_and_agg_extensions(spark, sf_dir):
    """batchjoiner joinCondition (theta join by stage alias) and the
    aggregator's percentile/collectList/collectSet/concat functions."""
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "nat", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "reg", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/region.parquet"}},
            {"name": "j", "type": "batchjoiner",
             "config": {
                 "joinCondition": (
                     "nat.n_regionkey = reg.r_regionkey "
                     "AND nat.n_nationkey > 2"
                 ),
                 "selectedFields": ["reg.r_name AS r_name",
                                    "nat.n_nationkey AS n_nationkey",
                                    "nat.n_name AS n_name"],
             }},
            {"name": "a", "type": "batchaggregator.groupby",
             "config": {
                 "groupByFields": ["r_name"],
                 "aggregates": [
                     {"name": "nations", "function": "collectSet",
                      "field": "n_name"},
                     {"name": "keys", "function": "collectList",
                      "field": "n_nationkey"},
                     {"name": "joined", "function": "concat",
                      "field": "n_name", "args": {"separator": "|"}},
                     {"name": "mid_key", "function": "percentile",
                      "field": "n_nationkey",
                      "args": {"percentile": 0.5}},
                 ],
             }},
        ],
        "connections": [
            {"from": "nat", "to": "j"},
            {"from": "reg", "to": "j"},
            {"from": "j", "to": "a"},
        ],
    })
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    want = (
        nat.filter("n_nationkey > 2")
        .join(reg, nat.n_regionkey == reg.r_regionkey)
    )
    got = {r.r_name: r for r in frames["a"].collect()}
    for rr in want.groupBy("r_name").agg(
        F.sort_array(F.collect_set("n_name")).alias("nations"),
        F.sort_array(F.collect_list("n_nationkey")).alias("keys"),
    ).collect():
        assert got[rr.r_name].nations == rr.nations
        assert got[rr.r_name].keys == rr.keys
        assert got[rr.r_name].joined == "|".join(sorted(rr.nations))
    # validation: joinKeys + joinCondition is a compile error
    with pytest.raises(PipelineSpecError, match="mutually exclusive"):
        run_pipeline(spark, {
            "stages": [
                {"name": "nat", "type": "batchsource.parquet",
                 "config": {"path": f"{sf_dir}/nation.parquet"}},
                {"name": "reg", "type": "batchsource.parquet",
                 "config": {"path": f"{sf_dir}/region.parquet"}},
                {"name": "j", "type": "batchjoiner",
                 "config": {"joinKeys": ["x"], "joinCondition": "1=1"}},
            ],
            "connections": [{"from": "nat", "to": "j"},
                            {"from": "reg", "to": "j"}],
        })
    # validation: percentile without its arg is a compile error
    with pytest.raises(PipelineSpecError, match="percentile"):
        run_pipeline(spark, {
            "stages": [
                {"name": "nat", "type": "batchsource.parquet",
                 "config": {"path": f"{sf_dir}/nation.parquet"}},
                {"name": "a", "type": "batchaggregator.groupby",
                 "config": {"groupByFields": ["n_regionkey"],
                            "aggregates": [{"name": "p",
                                            "function": "percentile",
                                            "field": "n_nationkey"}]}},
            ],
            "connections": [{"from": "nat", "to": "a"}],
        })


def test_pipeline_field_lineage_wire_shape(spark, sf_dir, tmp_path):
    """pipeline_field_lineage compiles without executing (dry run: no
    sink output, no streaming query) and emits per-stage operations
    with input/output field lists; the python stage's description is
    the user script, as the reference records."""
    from python_plugins_spark.pipeline import pipeline_field_lineage

    out = str(tmp_path / "never_written")
    script = (
        "def transform(record, emitter, context):\n"
        "    emitter.emit({'o_orderkey': record['o_orderkey'],\n"
        "                  'fee': record['o_totalprice'] * 0.01})\n"
    )
    spec = {
        "name": "lineage_demo",
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "ev", "type": "transform.python",
             "config": {"script": script,
                        "schema": "o_orderkey long, fee double"}},
            {"name": "sink", "type": "batchsink.parquet",
             "config": {"path": out}},
        ],
        "connections": [{"from": "src", "to": "ev"},
                        {"from": "ev", "to": "sink"}],
    }
    lin = pipeline_field_lineage(spark, spec)
    import os

    assert not os.path.exists(out)  # dry run wrote nothing
    ops = {o["name"]: o for o in lin["operations"]}
    assert lin["pipeline"] == "lineage_demo"
    assert ops["ev"]["description"] == script
    assert ops["ev"]["inputFields"]["src"][:2] == ["o_orderkey", "o_custkey"]
    assert ops["ev"]["outputFields"] == ["o_orderkey", "fee"]
    assert ops["sink"]["inputFields"]["ev"] == ["o_orderkey", "fee"]


def test_pipeline_streaming_msgbus_source(spark, tmp_path):
    """streamingsource.msgbus wires the Kafka-shaped emulation into the
    runner; values decode downstream with normal transform stages."""
    from python_plugins_spark.sources import msgbus

    root = str(tmp_path / "broker")
    msgbus.create_topic(root, "t", partitions=2)
    msgbus.append_records(root, "t", 0, [(b"a", b"10", 0), (b"b", b"20", 0)])
    msgbus.append_records(root, "t", 1, [(b"c", b"30", 0)])
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.msgbus",
             "config": {"path": root, "topic": "t"}},
            {"name": "proj", "type": "transform.projection",
             "config": {"select": ["partition", "offset", "value"]}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": "msgbus_pipe_sink",
                        "allowRawMemorySink": True}},
        ],
        "connections": [{"from": "src", "to": "proj"},
                        {"from": "proj", "to": "sink"}],
    })
    rows = frames["sink"].collect()
    assert sorted(int(bytes(r.value)) for r in rows) == [10, 20, 30]


def test_pipeline_streaming_session_window(spark, sf_dir):
    """streamingaggregator.session_window: the drained sessions equal
    the batch session_window aggregation."""
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "agg", "type": "streamingaggregator.session_window",
             "config": {"eventTime": "ts", "gap": "10 minutes",
                        "watermark": "30 minutes",
                        "groupByFields": ["user_id"],
                        "aggregates": [
                            {"name": "n", "function": "count", "field": "*"}]}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": "sess_pipe_sink",
                        "outputMode": "complete", "statePartitions": 8}},
        ],
        "connections": [{"from": "src", "to": "agg"},
                        {"from": "agg", "to": "sink"}],
    })
    got = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n
        for r in frames["sink"].collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r.user_id, str(r.win.start), str(r.win.end)): r.n
        for r in ev.groupBy(
            F.session_window("ts", "10 minutes").alias("win"), "user_id"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_pipeline_deduplicate_distinct_and_alert_port(spark, sf_dir):
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "dedup", "type": "batchaggregator.deduplicate",
             "config": {"uniqueFields": ["o_custkey"],
                        "filterOperation": {"field": "o_totalprice",
                                            "function": "max"}}},
            {"name": "seg", "type": "transform.distinct",
             "config": {"fields": ["o_orderstatus"]}},
            {"name": "ev", "type": "transform.python",
             "config": {
                 "script": (
                     "def transform(record, emitter, context):\n"
                     "    emitter.emit(record)\n"
                     "    if record['o_totalprice'] > 300000:\n"
                     "        emitter.emitAlert({'level': 'high',\n"
                     "                           'key': str(record['o_orderkey'])})\n"
                 ),
                 "emit_alerts": True,
             }},
        ],
        "connections": [
            {"from": "src", "to": "dedup"},
            {"from": "src", "to": "seg"},
            {"from": "dedup", "to": "ev"},
        ],
    })
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # deduplicate: one row per custkey, the max-price one
    want_n = o.select("o_custkey").distinct().count()
    assert frames["dedup"].count() == want_n
    top = frames["dedup"].filter("o_custkey = 371").collect()
    if top:
        want_max = (
            o.filter("o_custkey = 371")
            .agg(F.max("o_totalprice")).collect()[0][0]
        )
        assert top[0].o_totalprice == want_max
    # distinct on a field subset
    assert frames["seg"].count() == o.select("o_orderstatus").distinct().count()
    # alert port wired
    n_alerts = frames["ev.alert"].count()
    want_alerts = frames["dedup"].filter("o_totalprice > 300000").count()
    assert n_alerts == want_alerts and n_alerts > 0


def test_pipeline_sql_stage_batch_and_streaming(spark, sf_dir):
    spec_tail = [
        {"name": "agg", "type": "transform.sql",
         "config": {"viewName": "ev_in",
                    "statement": (
                        "SELECT event_type, count(*) AS n "
                        "FROM ev_in WHERE value > 100 GROUP BY event_type"
                    )}},
    ]
    batch = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            *spec_tail,
        ],
        "connections": [{"from": "src", "to": "agg"}],
    })
    want = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("value > 100").groupBy("event_type")
        .agg(F.count("*").alias("n")).collect()
    }
    got = {r.event_type: r.n for r in batch["agg"].collect()}
    assert got == want
    # streaming: the same SQL stage on a stream, complete-mode drain
    streaming = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            *spec_tail,
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": "sql_stage_sink",
                        "outputMode": "complete", "statePartitions": 8}},
        ],
        "connections": [{"from": "src", "to": "agg"},
                        {"from": "agg", "to": "sink"}],
    })
    got_s = {r.event_type: r.n for r in streaming["sink"].collect()}
    assert got_s == want


def test_pipeline_msgbus_sink_roundtrip(spark, tmp_path):
    """Bus in, bus out: a streaming pipeline consumes one topic,
    transforms, and produces into another; the drained sink binds to a
    batch read of the produced topic."""
    from python_plugins_spark.sources import msgbus

    root = str(tmp_path / "broker")
    msgbus.create_topic(root, "in", partitions=2)
    msgbus.append_records(
        root, "in", 0, [(b"a", b"1", 0), (b"b", b"2", 0)]
    )
    msgbus.append_records(root, "in", 1, [(b"c", b"3", 0)])
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.msgbus",
             "config": {"path": root, "topic": "in"}},
            {"name": "xf", "type": "transform.sql",
             "config": {"viewName": "bus_in",
                        "statement": (
                            "SELECT cast(key as string) AS key, "
                            "cast(cast(cast(value as string) as int) * 10 "
                            "as string) AS value FROM bus_in"
                        )}},
            {"name": "out", "type": "streamingsink.msgbus",
             "config": {"path": root, "topic": "out", "partitions": 2}},
        ],
        "connections": [{"from": "src", "to": "xf"},
                        {"from": "xf", "to": "out"}],
    })
    vals = sorted(
        int(bytes(r.value)) for r in frames["out"].collect()
    )
    assert vals == [10, 20, 30]


def test_pipeline_batch_msgbus_sink(spark, sf_dir, tmp_path):
    from python_plugins_spark.sources import msgbus

    root = str(tmp_path / "broker")
    run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "kv", "type": "transform.sql",
             "config": {"viewName": "nat_in",
                        "statement": (
                            "SELECT cast(n_nationkey as string) AS key, "
                            "n_name AS value FROM nat_in"
                        )}},
            {"name": "out", "type": "batchsink.msgbus",
             "config": {"path": root, "topic": "nations", "partitions": 3}},
        ],
        "connections": [{"from": "src", "to": "kv"},
                        {"from": "kv", "to": "out"}],
    })
    msgbus.register(spark)
    got = (
        spark.read.format("msgbus")
        .option("path", root).option("topic", "nations").load()
    )
    want = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert got.count() == want
    names = {bytes(r.value).decode() for r in got.collect()}
    assert "CANADA" in names or len(names) == want


def test_pipeline_normalize_stage(spark, sf_dir):
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"name": "norm", "type": "transform.normalize",
             "config": {"fieldMapping": ["n_nationkey"],
                        "fieldNormalizing": ["n_name", "n_regionkey"],
                        "typeField": "attr", "valueField": "val"}},
        ],
        "connections": [{"from": "src", "to": "norm"}],
    })
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    out = frames["norm"]
    assert out.columns == ["n_nationkey", "attr", "val"]
    assert out.count() == 2 * n
    assert set(r.attr for r in out.select("attr").distinct().collect()) == {
        "n_name", "n_regionkey"
    }


def test_pipeline_window_stage(spark, sf_dir):
    """transform.window (round-6, backed by relational.window_apply):
    window-function columns from a JSON spec, composed with the
    filter + distinct stages that now route through the relational
    operator wrappers."""
    from pyspark.sql import Window

    spec = {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "flt", "type": "transform.filter",
             "config": {"condition": "o_orderstatus = 'O'"}},
            {"name": "win", "type": "transform.window",
             "config": {"partitionBy": ["o_custkey"],
                        "orderBy": ["o_totalprice DESC", "o_orderkey"],
                        "columns": {"rn": "row_number()",
                                    "run_tot": "sum(o_totalprice)"}}},
            {"name": "top", "type": "transform.filter",
             "config": {"condition": "rn = 1"}},
            {"name": "dst", "type": "transform.distinct",
             "config": {"fields": ["o_custkey", "o_orderkey", "rn"]}},
        ],
        "connections": [
            {"from": "src", "to": "flt"},
            {"from": "flt", "to": "win"},
            {"from": "win", "to": "top"},
            {"from": "top", "to": "dst"},
        ],
    }
    frames = run_pipeline(spark, spec)
    got = {(r.o_custkey, r.o_orderkey) for r in frames["dst"].collect()}

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderstatus = 'O'"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    want = {
        (r.o_custkey, r.o_orderkey)
        for r in o.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == want and got


def test_pipeline_stateful_stage(spark, sf_dir):
    """streamingtransform.stateful (round-6): keyed state from a JSON
    spec. running_agg totals must equal the batch aggregate; unknown
    operations and batch inputs fail at the right layer."""
    import uuid

    import pytest

    from python_plugins_spark.pipeline import PipelineSpecError

    qname = f"t_state_{uuid.uuid4().hex[:8]}"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "state", "type": "streamingtransform.stateful",
             "config": {"operation": "running_agg",
                        "keys": ["event_type"], "valueField": "value"}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": qname, "outputMode": "update",
                        "statePartitions": 4}},
        ],
        "connections": [
            {"from": "src", "to": "state"},
            {"from": "state", "to": "sink"},
        ],
    })
    got = {
        r.event_type: (r.running_count, round(r.running_sum, 4))
        for r in frames["sink"].collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r.event_type: (r.n, round(r.total, 4))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want

    with pytest.raises(PipelineSpecError, match="unknown stateful"):
        run_pipeline(spark, {
            "stages": [
                {"name": "src", "type": "streamingsource.file",
                 "config": {"path": f"{sf_dir}/events.parquet"}},
                {"name": "state", "type": "streamingtransform.stateful",
                 "config": {"operation": "frobnicate", "keys": ["k"],
                            "valueField": "v"}},
            ],
            "connections": [{"from": "src", "to": "state"}],
        })


def test_pipeline_stateful_max_operation(spark, sf_dir):
    """operation=max routes through transformWithStateInPandas, which
    needs the RocksDB state-store provider — the stage must arrange
    that itself so a spec user doesn't have to know."""
    import uuid

    qname = f"t_smax_{uuid.uuid4().hex[:8]}"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "state", "type": "streamingtransform.stateful",
             "config": {"operation": "max",
                        "keys": ["event_type"], "valueField": "value"}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": qname, "outputMode": "update",
                        "statePartitions": 4}},
        ],
        "connections": [
            {"from": "src", "to": "state"},
            {"from": "state", "to": "sink"},
        ],
    })
    got = {r.event_type: r.max_value for r in frames["sink"].collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r.event_type: r.m
        for r in ev.groupBy("event_type").agg(F.max("value").alias("m")).collect()
    }
    assert got == want


def test_pipeline_distinct_within_watermark(spark, sf_dir):
    """transform.distinct withinWatermark=true: streaming dedup with
    BOUNDED state (keys expire with the watermark) — duplicates inside
    the window collapse; batch semantics unchanged."""
    import uuid

    qname = f"t_wmdedup_{uuid.uuid4().hex[:8]}"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "wm", "type": "transform.watermark",
             "config": {"eventTime": "ts", "delay": "1 hour"}},
            {"name": "dd", "type": "transform.distinct",
             "config": {"fields": ["event_type", "user_id"],
                        "withinWatermark": True}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": qname, "outputMode": "append",
                        "statePartitions": 4}},
        ],
        "connections": [
            {"from": "src", "to": "wm"},
            {"from": "wm", "to": "dd"},
            {"from": "dd", "to": "sink"},
        ],
    })
    got = frames["sink"].count()
    distinct_pairs = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "user_id").distinct().count()
    )
    # whole table arrives within one watermark window -> exact dedup
    assert got == distinct_pairs


def test_pipeline_corpus_curation_stages(spark, sf_dir):
    """The three corpus stages compose: quality gate drops short/
    stopword-poor docs, dedup keeps the min-doc_id copy of equal
    texts, and the selection stage emits exactly k ranked rows that
    all survive the upstream gates."""
    spec = {
        "stages": [
            {"name": "docs", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/documents.parquet"}},
            {"name": "dbl", "type": "transform.sql",
             "config": {"viewName": "t_curation_docs",
                        "statement": (
                            "SELECT doc_id, text, lang FROM t_curation_docs "
                            "UNION ALL SELECT doc_id + 100000 AS doc_id, "
                            "text, lang FROM t_curation_docs"
                        )}},
            {"name": "q", "type": "transform.qualityfilter",
             "config": {"field": "text", "minWords": 30,
                        "minStopwordHits": 1}},
            {"name": "d", "type": "transform.dedup",
             "config": {"field": "text", "orderField": "doc_id"}},
            {"name": "s", "type": "transform.selection",
             "config": {"method": "dsir",
                        "targetCondition": "lang = 'en'", "k": 10}},
        ],
        "connections": [
            {"from": "docs", "to": "dbl"},
            {"from": "dbl", "to": "q"},
            {"from": "q", "to": "d"},
            {"from": "d", "to": "s"},
        ],
    }
    frames = run_pipeline(spark, spec)
    quality = frames["q"]
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    assert quality.filter(F.size(toks) < 30).count() == 0
    deduped = frames["d"]
    assert (
        deduped.groupBy(F.md5(F.col("text").cast("string"))).count()
        .filter(F.col("count") > 1).count() == 0
    )
    # survivors are the minimum doc_id of each duplicate text group
    raw = frames["q"].select("doc_id", "text")
    min_ids = {
        r["mn"]
        for r in raw.groupBy("text").agg(F.min("doc_id").alias("mn")).collect()
    }
    assert {r["doc_id"] for r in deduped.select("doc_id").collect()} == min_ids
    sel = frames["s"].collect()
    assert len(sel) == 10
    assert sorted(r["sel_rank"] for r in sel) == list(range(1, 11))
    dedup_ids = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    assert {r["doc_id"] for r in sel} <= dedup_ids


def test_pipeline_corpus_stage_validation(spark, sf_dir):
    src = {"name": "docs", "type": "batchsource.parquet",
           "config": {"path": f"{sf_dir}/documents.parquet"}}

    with pytest.raises(PipelineSpecError, match="orderField"):
        run_pipeline(spark, {
            "stages": [src, {"name": "d", "type": "transform.dedup",
                             "config": {"field": "text"}}],
            "connections": [{"from": "docs", "to": "d"}],
        })
    with pytest.raises(PipelineSpecError, match="unsupported"):
        run_pipeline(spark, {
            "stages": [src, {"name": "d", "type": "transform.dedup",
                             "config": {"field": "text", "method": "minhash",
                                        "orderField": "doc_id"}}],
            "connections": [{"from": "docs", "to": "d"}],
        })
    with pytest.raises(PipelineSpecError, match="targetCondition"):
        run_pipeline(spark, {
            "stages": [src, {"name": "s", "type": "transform.selection",
                             "config": {"method": "dsir"}}],
            "connections": [{"from": "docs", "to": "s"}],
        })


def test_pipeline_validate_routing_and_fail_fast(spark, sf_dir):
    """Route mode: NULL rule results count as violations, multi-rule
    breaks are annotated together, main+errors partition the input.
    Fail mode: the first violating row aborts the job (the reference's
    'Could not transform input.' fail-fast contract)."""
    base = [
        {"name": "ord", "type": "batchsource.parquet",
         "config": {"path": f"{sf_dir}/orders.parquet"}},
        {"name": "staged", "type": "transform.sql",
         "config": {"viewName": "t_val_orders",
                    "statement": (
                        "SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 "
                        "THEN NULL ELSE o_totalprice END AS price "
                        "FROM t_val_orders"
                    )}},
    ]
    rules = [{"name": "present", "expr": "price > 0"},
             {"name": "cap", "expr": "price <= 400000"}]
    frames = run_pipeline(spark, {
        "stages": base + [{"name": "v", "type": "transform.validate",
                           "config": {"rules": rules}}],
        "connections": [{"from": "ord", "to": "staged"},
                        {"from": "staged", "to": "v"}],
    })
    total = frames["staged"].count()
    ok_n, err_n = frames["v"].count(), frames["v.errors"].count()
    assert ok_n + err_n == total and err_n > 0
    # nulled prices violate BOTH rules at once
    both = frames["v.errors"].filter(F.col("price").isNull()).collect()
    assert both and all(
        sorted(r["_violations"]) == ["cap", "present"]
        and r["_n_violations"] == 2
        for r in both
    )
    # main port carries no _violations column and only clean rows
    assert "_violations" not in frames["v"].columns
    assert frames["v"].filter(
        F.col("price").isNull() | (F.col("price") > 400000)
    ).count() == 0

    frames_fail = run_pipeline(spark, {
        "stages": base + [{"name": "v", "type": "transform.validate",
                           "config": {"rules": rules,
                                      "onViolation": "fail"}}],
        "connections": [{"from": "ord", "to": "staged"},
                        {"from": "staged", "to": "v"}],
    })
    with pytest.raises(Exception, match="validation failed"):
        frames_fail["v"].count()

    with pytest.raises(PipelineSpecError, match="rules"):
        run_pipeline(spark, {
            "stages": base + [{"name": "v", "type": "transform.validate",
                               "config": {}}],
            "connections": [{"from": "ord", "to": "staged"},
                            {"from": "staged", "to": "v"}],
        })
    with pytest.raises(PipelineSpecError, match="route|fail"):
        run_pipeline(spark, {
            "stages": base + [{"name": "v", "type": "transform.validate",
                               "config": {"rules": rules,
                                          "onViolation": "explode"}}],
            "connections": [{"from": "ord", "to": "staged"},
                            {"from": "staged", "to": "v"}],
        })


def test_pipeline_validate_works_on_streams(spark, sf_dir):
    """transform.validate is expression-only, so the SAME spec stages
    run unchanged in a streaming pipeline (the reference's batch/
    streaming deployment symmetry): main and .errors ports drain to
    memory sinks and must partition the input exactly as batch does."""
    stages_tail = [
        {"name": "staged", "type": "transform.sql",
         "config": {"viewName": "sv_orders",
                    "statement": (
                        "SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 "
                        "THEN NULL ELSE o_totalprice END AS price "
                        "FROM sv_orders"
                    )}},
        {"name": "v", "type": "transform.validate",
         "config": {"rules": [
             {"name": "present", "expr": "price > 0"},
             {"name": "cap", "expr": "price <= 400000"}]}},
    ]
    batch = run_pipeline(spark, {
        "stages": [{"name": "src", "type": "batchsource.parquet",
                    "config": {"path": f"{sf_dir}/orders.parquet"}},
                   *stages_tail],
        "connections": [{"from": "src", "to": "staged"},
                        {"from": "staged", "to": "v"}],
    })
    streaming = run_pipeline(spark, {
        "stages": [{"name": "src", "type": "streamingsource.file",
                    "config": {"path": f"{sf_dir}/orders.parquet"}},
                   *stages_tail,
                   {"name": "ok_sink", "type": "streamingsink.memory",
                    "config": {"queryName": "sval_ok",
                               "allowRawMemorySink": True}},
                   {"name": "err_sink", "type": "streamingsink.memory",
                    "config": {"queryName": "sval_err",
                               "allowRawMemorySink": True}}],
        "connections": [{"from": "src", "to": "staged"},
                        {"from": "staged", "to": "v"},
                        {"from": "v", "to": "ok_sink"},
                        {"from": "v.errors", "to": "err_sink"}],
    })
    b_ok = {r.o_orderkey for r in batch["v"].collect()}
    b_err = {r.o_orderkey for r in batch["v.errors"].collect()}
    s_ok = {r.o_orderkey for r in streaming["ok_sink"].collect()}
    s_err = {r.o_orderkey for r in streaming["err_sink"].collect()}
    assert b_ok == s_ok and b_err == s_err and len(s_err) > 0


def test_pipeline_crawl_ingest(spark, tmp_path):
    """The crawl-ingestion front door as a SPEC, twin of the
    crawl_pipeline_end_to_end registry query: archived WARC bytes ->
    warc_extract -> sql path derivation -> robots_filter (RFC 9309) ->
    html_extract -> nfc_normalize -> qualityfilter -> dedup -> groupby
    audit. The fixture plants one robots-blocked row, one quality
    reject, and one exact duplicate so every gate provably drops
    something."""
    from python_plugins_spark.operators import warc as W

    rows = [
        # (doc_id, source, body text, path) — paths map to the RFC
        # fixture policy: /ok/* allowed, /trap/* blocked
        (1, "alpha", "the quick brown fox jumps over the lazy dog", "/ok/1"),
        (2, "alpha", "the quick brown fox jumps over the lazy dog", "/ok/2"),  # dup of 1
        (3, "beta", "tiny", "/ok/3"),                      # quality reject (h1+body+soup = 3 words < 4)
        (4, "beta", "a completely different document with many plain words", "/trap/4"),  # robots-blocked
        (5, "gamma", "another unique document full of ordinary readable words", "/ok/5"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string, path string")
    html = F.concat(
        F.lit("<html><body><h1>t</h1><p>"), F.col("text"),
        # decomposed e + COMBINING ACUTE: nfc stage must compose it
        F.lit(" café</p><script>junk</script></body></html>"),
    )
    base = docs.select("doc_id", "source", html.alias("html"), "path")
    warc_path = str(tmp_path / "crawl_warc.parquet")
    W.synth_warc_payloads(base, "doc_id", body_col="html", path_col="path").write.parquet(warc_path)

    policy = "User-agent: *\nDisallow: /trap\n"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": warc_path}},
            {"name": "fetch", "type": "transform.warc_extract",
             "config": {"output": "bodies"}},
            {"name": "urls", "type": "transform.sql",
             "config": {"viewName": "fetched", "statement": f"""
                 SELECT doc_id, body AS html,
                        regexp_replace(target_uri, '^[a-z]+://[^/]+', '') AS path,
                        '{policy.replace(chr(10), chr(92) + 'n')}' AS robots_txt
                 FROM fetched"""}},
            {"name": "robots", "type": "transform.robots_filter",
             "config": {"agent": "anybot"}},
            {"name": "ext", "type": "transform.html_extract",
             "config": {"htmlField": "html"}},
            {"name": "norm", "type": "transform.nfc_normalize",
             "config": {"field": "text", "outputField": "ntext"}},
            {"name": "quality", "type": "transform.qualityfilter",
             "config": {"field": "ntext", "minWords": 4}},
            {"name": "dedup", "type": "transform.dedup",
             "config": {"field": "ntext", "orderField": "doc_id"}},
            {"name": "audit", "type": "batchaggregator.groupby",
             "config": {"groupByFields": [],
                        "aggregates": [
                            {"name": "n_docs", "function": "count", "field": "*"},
                            {"name": "ids", "function": "collectList", "field": "doc_id"}]}},
        ],
        "connections": [
            {"from": "src", "to": "fetch"},
            {"from": "fetch", "to": "urls"},
            {"from": "urls", "to": "robots"},
            {"from": "robots", "to": "ext"},
            {"from": "ext", "to": "norm"},
            {"from": "norm", "to": "quality"},
            {"from": "quality", "to": "dedup"},
            {"from": "dedup", "to": "audit"},
        ],
    })
    # robots drops 4; quality drops 3; dedup keeps min-id of {1,2}
    audit = frames["audit"].collect()
    assert len(audit) == 1
    assert audit[0].n_docs == 2 and list(audit[0].ids) == [1, 5]
    # the NFC stage actually composed the decomposed sequence
    survivors = {r.doc_id: r.ntext for r in frames["dedup"].collect()}
    assert all("café" in t for t in survivors.values())
    assert all("́" not in t for t in survivors.values())
    # per-stage frames expose the gates' intermediate cardinalities
    assert frames["robots"].count() == 4
    assert frames["quality"].count() == 3


def test_pipeline_warc_file_source(spark, tmp_path):
    """batchsource.warc reads .warc.gz FILES from disk (the CommonCrawl
    landing shape) — one row per response record, bodies decoded; a
    corrupt archive in the glob refuses loudly, naming the file."""
    import pytest

    from python_plugins_spark.operators import warc as W

    docs = spark.createDataFrame(
        [(1, "alpha", "first doc body"), (2, "alpha", "second doc body"),
         (3, "beta", "third doc body")],
        "doc_id long, source string, text string",
    )
    out_dir = str(tmp_path / "warc_src")
    manifest = {r.source: r.n_docs for r in W.write_warc_files(docs, out_dir).collect()}
    assert manifest == {"alpha": 2, "beta": 1}

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "crawl", "type": "batchsource.warc",
             "config": {"path": out_dir + "/*.warc.gz"}},
            {"name": "audit", "type": "batchaggregator.groupby",
             "config": {"groupByFields": [],
                        "aggregates": [
                            {"name": "n", "function": "count", "field": "*"},
                            {"name": "uris", "function": "collectList",
                             "field": "target_uri"}]}},
        ],
        "connections": [{"from": "crawl", "to": "audit"}],
    })
    rows = {r.target_uri: r.body for r in frames["crawl"].collect()}
    assert rows["http://alpha.example/doc/1"].endswith("first doc body")
    assert frames["audit"].collect()[0].n == 3

    # corrupt archive: ValueError naming the file
    bad = tmp_path / "warc_src" / "crawl-evil.warc.gz"
    bad.write_bytes(b"\x1f\x8bnot really gzip")
    with pytest.raises(Exception, match="crawl-evil"):
        W.read_warc(spark, str(tmp_path / "warc_src") + "/*.warc.gz").collect()


def test_pipeline_langid_and_repetition_stages(spark, tmp_path):
    """transform.langid and transform.repetition_filter as spec
    stages: columns carried through the operators' own projections
    (zero joins — the stage plans must stay Exchange-free), language
    filtering keeps the requested set, the repetition gate drops the
    planted boilerplate row."""
    from python_plugins_spark.plans import count_shuffles

    rows = [
        (1, "The river curled slowly through the quiet valley toward the sea.", "keepme"),
        (2, "Der Zug fuhr langsam durch das enge Tal in Richtung Norden.", "keepme"),
        (3, "El mercado abría cada mañana junto a la iglesia del pueblo.", "dropme-lang"),
        (4, " ".join(["spam spam"] * 40), "dropme-repetition"),
    ]
    src_path = str(tmp_path / "langid_src.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, tag string").write.parquet(src_path)

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": src_path}},
            {"name": "lang", "type": "transform.langid",
             "config": {"action": "filter", "keep": ["en", "de"]}},
            {"name": "rep", "type": "transform.repetition_filter",
             "config": {}},
        ],
        "connections": [{"from": "src", "to": "lang"},
                        {"from": "lang", "to": "rep"}],
    })
    lang_rows = {r.doc_id: r.pred_lang for r in frames["lang"].collect()}
    assert lang_rows[1] == "en" and lang_rows[2] == "de"
    assert 3 not in lang_rows  # es filtered
    out = {r.doc_id for r in frames["rep"].collect()}
    assert out == {1, 2}  # boilerplate row 4 fails the thresholds
    # carried columns survive both stages
    assert {r.tag for r in frames["rep"].collect()} == {"keepme"}
    # the whole two-gate pipeline is a narrow map chain: zero shuffles
    assert count_shuffles(frames["rep"]) == 0

    annotated = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": src_path}},
            {"name": "rep", "type": "transform.repetition_filter",
             "config": {"action": "annotate"}},
        ],
        "connections": [{"from": "src", "to": "rep"}],
    })["rep"]
    sig = {r.doc_id: r for r in annotated.collect()}
    assert sig[4].passes_repetition is False and sig[4].dup_10gram_char_frac == 1.0
    assert sig[1].passes_repetition is True and sig[1].tag == "keepme"

    # tiered: true runs the full composition — a Ukrainian row (the
    # base can only say 'ru') refines through the Cyrillic tier, the
    # verdict column is `lang` + `tier`, carried columns survive
    tiered_rows = rows[:2] + [
        (5, "Ми довго їхали через ліс і дорога вийшла до широкої річки.", "keepme"),
    ]
    src2 = str(tmp_path / "langid_tiered_src.parquet")
    spark.createDataFrame(
        tiered_rows, "doc_id long, text string, tag string"
    ).write.parquet(src2)
    tiered = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": src2}},
            {"name": "lang", "type": "transform.langid",
             "config": {"tiered": True, "action": "filter",
                        "keep": ["en", "uk"]}},
        ],
        "connections": [{"from": "src", "to": "lang"}],
    })["lang"]
    got = {r.doc_id: (r.lang, r.tier, r.tag) for r in tiered.collect()}
    assert got[1] == ("en", "base", "keepme")
    assert got[5] == ("uk", "cyrillic", "keepme")
    assert 2 not in got  # de filtered out by keep


def test_pipeline_streaming_crawl_ingest(spark, tmp_path):
    """The crawl front-door stages are STREAMING-capable: the same
    warc_extract -> sql -> robots_filter -> html_extract ->
    nfc_normalize chain runs over a streaming file source (Arrow row
    maps and a scalar pandas UDF are narrow, so the chain needs no
    state), draining to the expected surviving rows — continuous
    ingestion of landing archives with zero changes to the stage
    implementations."""
    from python_plugins_spark.operators import warc as W

    rows = [
        (1, "alpha", "streaming body one", "/ok/1"),
        (2, "alpha", "streaming body two", "/trap/2"),   # robots-blocked
        (3, "beta", "streaming body three", "/ok/3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string, path string")
    html = F.concat(F.lit("<p>"), F.col("text"), F.lit(" café</p>"))
    base = docs.select("doc_id", "source", html.alias("html"), "path")
    warc_path = str(tmp_path / "stream_warc.parquet")
    W.synth_warc_payloads(base, "doc_id", body_col="html", path_col="path").write.parquet(warc_path)

    policy = "User-agent: *\nDisallow: /trap\n"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": warc_path}},
            {"name": "fetch", "type": "transform.warc_extract",
             "config": {"output": "bodies"}},
            {"name": "urls", "type": "transform.sql",
             "config": {"viewName": "sfetched", "statement": f"""
                 SELECT doc_id, body AS html,
                        regexp_replace(target_uri, '^[a-z]+://[^/]+', '') AS path,
                        '{policy.replace(chr(10), chr(92) + 'n')}' AS robots_txt
                 FROM sfetched"""}},
            {"name": "robots", "type": "transform.robots_filter",
             "config": {"agent": "anybot"}},
            {"name": "ext", "type": "transform.html_extract",
             "config": {"htmlField": "html"}},
            {"name": "norm", "type": "transform.nfc_normalize",
             "config": {"field": "text", "outputField": "ntext"}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": "crawl_stream",
                        "allowRawMemorySink": True}},
        ],
        "connections": [
            {"from": "src", "to": "fetch"},
            {"from": "fetch", "to": "urls"},
            {"from": "urls", "to": "robots"},
            {"from": "robots", "to": "ext"},
            {"from": "ext", "to": "norm"},
            {"from": "norm", "to": "sink"},
        ],
    })
    got = {r.doc_id: r.ntext for r in frames["sink"].collect()}
    assert set(got) == {1, 3}  # the /trap row never reaches the sink
    assert got[1] == "streaming body one café"


def test_pipeline_sitemap_discovery(spark, tmp_path):
    """The frontier-seeding chain as pipeline stages: robots_extras
    pulls each domain's Sitemap pointer + group-selected Crawl-delay,
    sitemap_parse explodes the fetched sitemap XML into URL rows
    (carrying the domain and its politeness delay), and a filter keeps
    high-priority entries. Both new stages are narrow — the spec runs
    with no exchange before the final collect."""
    rows = [
        (
            "alpha",
            "Sitemap: http://alpha.example/sm.xml\n"
            "User-agent: graftbot\nCrawl-delay: 1.5\nDisallow: /x\n",
            "<urlset>"
            "<url><loc>http://alpha.example/a</loc>"
            "<priority>0.9</priority></url>"
            "<url><loc>http://alpha.example/b</loc>"
            "<priority>0.2</priority></url>"
            "</urlset>",
        ),
        (
            "beta",
            "User-agent: *\nDisallow: /private\n",
            "<urlset><url><loc>http://beta.example/c</loc>"
            "<priority>0.8</priority></url></urlset>",
        ),
    ]
    src = str(tmp_path / "frontier_src.parquet")
    spark.createDataFrame(
        rows, "domain string, robots_txt string, xml string"
    ).write.parquet(src)

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": src}},
            {"name": "extras", "type": "transform.robots_extras",
             "config": {"agent": "graftbot/1.0"}},
            {"name": "urls", "type": "transform.sitemap_parse",
             "config": {"xmlField": "xml",
                        "carryFields": ["domain", "crawl_delay"]}},
            {"name": "hot", "type": "transform.filter",
             "config": {"condition": "priority >= 0.5"}},
        ],
        "connections": [
            {"from": "src", "to": "extras"},
            {"from": "extras", "to": "urls"},
            {"from": "urls", "to": "hot"},
        ],
    })
    ex = {r.domain: r for r in frames["extras"].collect()}
    assert ex["alpha"].sitemaps == ["http://alpha.example/sm.xml"]
    assert ex["alpha"].crawl_delay == 1.5
    assert ex["beta"].n_sitemaps == 0 and ex["beta"].crawl_delay is None
    hot = {r.loc: r for r in frames["hot"].collect()}
    assert set(hot) == {"http://alpha.example/a", "http://beta.example/c"}
    assert hot["http://alpha.example/a"].crawl_delay == 1.5
    # both stages are narrow: no Exchange anywhere in the final plan
    plan = frames["hot"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pipeline_binary_content_routing(spark, tmp_path):
    """The warc_extract stage's content_type / body_utf8_ok columns
    route binary crawl responses inside a SPEC: a filter stage keeps
    text rows for the text path while the binary row is excluded —
    no stage crashes on invalid UTF-8."""
    from python_plugins_spark.operators import warc as W

    docs = spark.createDataFrame(
        [(1, "alpha", "plain text body"), (2, "alpha", "ignored")],
        "doc_id long, source string, text string",
    )
    body = F.when(
        F.col("doc_id") == 2,
        F.concat(F.lit(b"\xff\xfe"), F.encode("text", "UTF-8")),
    ).otherwise(F.encode("text", "UTF-8"))
    ctype = F.when(
        F.col("doc_id") == 2, F.lit("application/octet-stream")
    ).otherwise(F.lit("text/plain; charset=utf-8"))
    base = docs.select(
        "doc_id", "source", body.alias("b"), ctype.alias("ct")
    )
    warc_path = str(tmp_path / "bin_route.parquet")
    W.synth_warc_payloads(
        base, "doc_id", body_col="b", ctype_col="ct"
    ).write.parquet(warc_path)

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": warc_path}},
            {"name": "fetch", "type": "transform.warc_extract",
             "config": {"output": "bodies"}},
            {"name": "textpath", "type": "transform.filter",
             "config": {"condition":
                        "body_utf8_ok AND content_type LIKE 'text/%'"}},
        ],
        "connections": [
            {"from": "src", "to": "fetch"},
            {"from": "fetch", "to": "textpath"},
        ],
    })
    fetched = {r.doc_id: r for r in frames["fetch"].collect()}
    assert fetched[2].body_utf8_ok is False
    assert fetched[2].content_type == "application/octet-stream"
    assert fetched[2].body.startswith("��")
    kept = frames["textpath"].collect()
    assert [r.doc_id for r in kept] == [1]
    assert kept[0].body == "plain text body"


def test_pipeline_perceptual_hash_stage(spark, tmp_path):
    """The perceptual_hash stage fingerprints image payloads inside a
    SPEC and its dedup action keeps the min-id copy per fingerprint —
    byte-distinct noise variants collapse with zero custom code in the
    spec."""
    from python_plugins_spark.operators.phash import (
        synth_block_image_payloads,
    )

    ids = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    src = str(tmp_path / "phash_stage_src.parquet")
    # 4 perceptual groups, 3 byte-distinct variants each
    synth_block_image_payloads(ids, "doc_id", groups=4).write.parquet(src)

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": src}},
            {"name": "fp", "type": "transform.perceptual_hash",
             "config": {"modality": "image", "action": "annotate"}},
            {"name": "dedup", "type": "transform.perceptual_hash",
             "config": {"modality": "image", "action": "dedup"}},
        ],
        "connections": [
            {"from": "src", "to": "fp"},
            {"from": "src", "to": "dedup"},
        ],
    })
    assert frames["fp"].select("phash").distinct().count() == 4
    # annotate keeps the FULL input row (payload included) + phash
    assert set(frames["fp"].columns) == {"doc_id", "payload", "phash"}
    assert frames["fp"].count() == 12
    kept = sorted(r.doc_id for r in frames["dedup"].collect())
    assert kept == [0, 1, 2, 3]  # min id per dHash group
    # dedup also yields surviving FULL rows, not bare fingerprints
    assert set(frames["dedup"].columns) == {"doc_id", "payload", "phash"}

    import pytest

    from python_plugins_spark.pipeline import PipelineSpecError

    with pytest.raises(PipelineSpecError, match="modality"):
        run_pipeline(spark, {
            "stages": [
                {"name": "src", "type": "batchsource.parquet",
                 "config": {"path": src}},
                {"name": "bad", "type": "transform.perceptual_hash",
                 "config": {"modality": "text"}},
            ],
            "connections": [{"from": "src", "to": "bad"}],
        })


_STATE_STORE_CONF = "spark.sql.streaming.stateStore.providerClass"


def test_pipeline_dry_run_leaves_state_store_conf_alone(spark, sf_dir):
    """Compiling a max/topn stateful spec without running it (lineage,
    ``pipeline --explain``) must not switch the session's state-store
    provider: only a run that starts a query sets it."""
    from python_plugins_spark.pipeline import pipeline_field_lineage

    prev = spark.conf.get(_STATE_STORE_CONF, None)
    spark.conf.unset(_STATE_STORE_CONF)
    try:
        lin = pipeline_field_lineage(spark, {
            "stages": [
                {"name": "src", "type": "streamingsource.file",
                 "config": {"path": f"{sf_dir}/events.parquet"}},
                {"name": "state", "type": "streamingtransform.stateful",
                 "config": {"operation": "max", "keys": ["event_type"],
                            "valueField": "value"}},
                {"name": "sink", "type": "streamingsink.memory",
                 "config": {"outputMode": "update"}},
            ],
            "connections": [{"from": "src", "to": "state"},
                            {"from": "state", "to": "sink"}],
        })
        assert [o["name"] for o in lin["operations"]] == ["src", "state", "sink"]
        assert spark.conf.get(_STATE_STORE_CONF, None) is None
    finally:
        if prev is not None:
            spark.conf.set(_STATE_STORE_CONF, prev)


def test_pipeline_dry_run_makes_the_sink_checks(spark, sf_dir):
    """A dry run refuses every spec a real run refuses at deploy time:
    the raw-append memory sink and a foreachbatch script without
    ``process`` raise the same error in both modes."""
    events = {"name": "s", "type": "streamingsource.file",
              "config": {"path": f"{sf_dir}/events.parquet"}}
    sinks = [
        {"name": "k", "type": "streamingsink.memory",
         "config": {"queryName": "raw_refused_dry"}},
        {"name": "k", "type": "streamingsink.foreachbatch",
         "config": {"script": "def not_process(df, epoch_id):\n    pass\n"}},
    ]
    for sink in sinks:
        spec = {"stages": [events, sink],
                "connections": [{"from": "s", "to": "k"}]}
        errors = []
        for dry_run in (False, True):
            with pytest.raises(PipelineSpecError) as e:
                run_pipeline(spark, spec, dry_run=dry_run)
            errors.append(str(e.value))
        assert errors[0] == errors[1], sink["type"]


@pytest.mark.parametrize("stype, config, key, stream", [
    ("transform.python", {"schema": "id long"}, "script", False),
    ("transform.filter", {}, "condition", False),
    ("batchaggregator.groupby", {"groupByFields": ["n_regionkey"]},
     "aggregates", False),
    ("batchsink.msgbus", {"path": "/nonexistent/bus"}, "topic", False),
    ("transform.watermark", {"eventTime": "event_time"}, "delay", True),
    ("streamingsink.parquet", {"path": "/nonexistent/out"},
     "checkpointLocation", True),
])
def test_pipeline_missing_required_key(spark, sf_dir, stype, config, key, stream):
    """A missing required config key is a deploy-time PipelineSpecError
    naming the stage and the key, not a bare KeyError from inside the
    stage; a dry run refuses it too."""
    src = (
        {"name": "src", "type": "streamingsource.file",
         "config": {"path": f"{sf_dir}/events.parquet"}}
        if stream else
        {"name": "src", "type": "batchsource.parquet",
         "config": {"path": f"{sf_dir}/nation.parquet"}}
    )
    spec = {"stages": [src, {"name": "bad_stage", "type": stype,
                             "config": config}],
            "connections": [{"from": "src", "to": "bad_stage"}]}
    for dry_run in (False, True):
        with pytest.raises(PipelineSpecError, match=rf"'bad_stage'.*'{key}'"):
            run_pipeline(spark, spec, dry_run=dry_run)


def test_pipeline_stage_catalogue_matches_docs():
    """docs/pipelines.md names exactly the stage types the runner
    builds. A catalogue cell like ``batchsource.parquet\\|csv`` names
    batchsource.parquet and batchsource.csv."""
    import os
    import re

    from python_plugins_spark.pipeline import _STAGES

    doc = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "pipelines.md",
    )
    documented = set()
    with open(doc) as fh:
        for line in fh:
            m = re.match(r"\| `([^`]+)` \|", line)
            if not m:
                continue
            first, *more = m.group(1).split("\\|")
            documented.add(first)
            prefix = first.rsplit(".", 1)[0]
            documented.update(f"{prefix}.{fmt}" for fmt in more)
    assert documented == set(_STAGES)
