"""JSON pipeline-spec runner: the host-platform pipeline surface the
reference plugin lived inside, re-expressed on Spark.

A reference user authored PIPELINES, not code: a JSON document naming
stages (source -> transforms -> sinks) and the connections between
them; the platform compiled the DAG onto its execution engine, and the
PythonEvaluator plugin (the reference, `/root/reference/docs/
PythonEvaluator-transform.md`) was one stage type with config keys
``script`` / ``schema`` (+ engine-selection keys). This module
interprets that document shape directly against this engine, so a
pipeline definition ports by swapping the artifact names:

    run_pipeline(spark, {
      "stages": [
        {"name": "src",  "type": "batchsource.parquet",
         "config": {"path": ".../orders.parquet"}},
        {"name": "eval", "type": "transform.python",
         "config": {"script": "def transform(record, emitter, context): ...",
                    "schema": "o_orderkey long, fee double"}},
        {"name": "agg",  "type": "batchaggregator.groupby",
         "config": {"groupByFields": ["k"],
                    "aggregates": [{"name": "n", "function": "count",
                                    "field": "*"}]}},
        {"name": "sink", "type": "batchsink.parquet",
         "config": {"path": "/tmp/out"}},
      ],
      "connections": [{"from": "src", "to": "eval"},
                      {"from": "eval", "to": "agg"},
                      {"from": "agg", "to": "sink"}],
    })

Execution model: stages are resolved in topological order and each
stage is a lazy DataFrame transformation — the whole pipeline compiles
into ONE Catalyst plan per sink (pushdown crosses stage boundaries,
exactly like the hand-written DataFrame code), and nothing runs until
a sink stage materializes. Returns {stage_name: DataFrame} for every
stage so callers can inspect intermediate frames; sinks also run
their writes.

The stage catalogue (every type, its config keys and semantics) is
``docs/pipelines.md``. Each type is one row of ``_STAGES`` at the end
of this module: its builder, its arity, its required config keys and
whether its input must be a stream. Unknown types, cycles, missing
connections or ports, arity, missing keys and batch/stream mismatches
raise :class:`PipelineSpecError` at COMPILE time (deploy-time
validation, the same stance as the reference's configurePipeline).
"""

from __future__ import annotations

import os
import uuid
from collections import defaultdict, deque
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


class PipelineSpecError(ValueError):
    """Invalid pipeline document — raised before anything executes."""


_AGG_FUNCS = {
    "count": lambda c: F.count("*") if c == "*" else F.count(c),
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "countDistinct": F.countDistinct,
    # CDAP GroupByAggregator parity extensions (round 4)
    "stddev": F.stddev_samp,
    "variance": F.var_samp,
    "logicalAnd": F.bool_and,
    "logicalOr": F.bool_or,
    # collect* sort their results so pipeline output is deterministic
    # regardless of partition arrival order
    "collectList": lambda c: F.sort_array(F.collect_list(c)),
    "collectSet": lambda c: F.sort_array(F.collect_set(c)),
}


def _agg_expr(stage_name: str, a: dict):
    """One aggregate spec {name, function, field, args?} -> Column.
    Argument-taking functions (percentile, concat) read their
    parameters from ``args``."""
    fn_name, field = a["function"], a.get("field", "*")
    args = a.get("args", {})
    if fn_name == "percentile":
        p = args.get("percentile")
        if p is None:
            raise PipelineSpecError(
                f"stage {stage_name!r}: percentile needs "
                "args.percentile in [0, 1]"
            )
        return F.percentile(field, F.lit(float(p))).alias(a["name"])
    if fn_name == "concat":
        sep = args.get("separator", ",")
        return F.concat_ws(sep, F.sort_array(F.collect_list(field))).alias(
            a["name"]
        )
    fn = _AGG_FUNCS.get(fn_name)
    if fn is None:
        raise PipelineSpecError(
            f"stage {stage_name!r}: unknown aggregate {fn_name!r}"
        )
    return fn(field).alias(a["name"])


def _stage_of(src: str) -> str:
    """Connection sources may be port-qualified: 'ev.error' -> 'ev'."""
    return src.split(".", 1)[0]


def _fmt(stype: str) -> str:
    """'batchsink.parquet' -> 'parquet'."""
    return stype.split(".", 1)[1]


def _choice(name: str, cfg: dict, key: str, default, allowed: tuple):
    """``cfg[key]`` (or ``default``), refused unless one of ``allowed``."""
    value = cfg.get(key, default)
    if value not in allowed:
        raise PipelineSpecError(
            f"stage {name!r}: {key} {value!r} unsupported, must be "
            + "|".join(allowed)
        )
    return value


def _check_streaming(name: str, stype: str, df: DataFrame, want: bool) -> None:
    if df.isStreaming == want:
        return
    if want:
        raise PipelineSpecError(
            f"stage {name!r} ({stype}) needs a STREAMING input; "
            "its upstream is a batch frame (use batchsink.* instead)"
        )
    raise PipelineSpecError(
        f"stage {name!r} ({stype}) got a STREAMING input; "
        "use streamingsink.* for streaming pipelines"
    )


def _first_per_key(df: DataFrame, keys: list, order: list, rn: str) -> DataFrame:
    """The first row of each ``keys`` group under ``order`` (row_number
    over one window; ``rn`` names the scratch rank column)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def _drain(query) -> None:
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def _reduces_rows_for_memory_sink(df: DataFrame) -> bool:
    """True if the stream's plan reduces its input before the sink —
    an Aggregate (append emits only FINALIZED groups, bounded by key
    cardinality) or a Deduplicate (bounded by distinct keys). A plan
    with neither forwards every input row, so an append-mode memory
    sink would accumulate the whole stream in the driver heap."""
    from python_plugins_spark.plans import _walk_logical

    reducing = ("Aggregate", "Deduplicate", "DeduplicateWithinWatermark")
    plan = df._jdf.queryExecution().analyzed()
    return any(
        n.getClass().getSimpleName() in reducing for n in _walk_logical(plan)
    )


def _sink(spark, cfg, df, dry_run, write, read_back=None, state_partitions=None):
    """The one sink tail. Every deploy-time check has run before it, so
    a dry run refuses exactly what a real run refuses; only the write
    is skipped. ``write()`` runs a batch sink's write, or returns a
    streaming sink's DataStreamWriter, which is started here with the
    optional ``checkpointLocation`` (and ``state_partitions`` shuffle
    partitions held only while it starts). A drained stream binds the
    stage to ``read_back()`` (or its input when there is none); with
    ``drain: false`` the running query is bound as ``<stage>.query``."""
    if dry_run:
        return df
    writer = write()
    if not isinstance(writer, DataStreamWriter):
        return df
    if cfg.get("checkpointLocation"):
        writer = writer.option("checkpointLocation", cfg["checkpointLocation"])
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not cfg.get("drain", True):
        return {"": df, "query": q}
    _drain(q)
    return read_back() if read_back else df


def _produce_args(cfg: dict) -> dict:
    """msgbus produce arguments shared by the batch and streaming sinks."""
    return {
        "key_col": cfg.get("keyField", "key"),
        "value_col": cfg.get("valueField", "value"),
        "partitions": int(cfg.get("partitions", 4)),
    }


# --- stage builders ------------------------------------------------------
# Each is called with keywords spark, name, stype, cfg, ins (input
# frames), df (the first input), sources (input names) and dry_run,
# takes what it needs, and returns the stage's frame or a
# {port: frame} dict ("" is the stage itself, a None frame is skipped).
# Arity, required keys and streaming input are checked before it runs.


def _file_source(spark, stype, cfg, **_):
    reader = spark.read.options(**cfg.get("options", {}))
    if cfg.get("schema"):
        reader = reader.schema(cfg["schema"])
    return getattr(reader, _fmt(stype))(cfg["path"])


def _delta_source(spark, cfg, **_):
    from python_plugins_spark.sources.delta_py import read_delta

    return read_delta(
        spark, cfg["path"],
        version_as_of=cfg.get("version_as_of"),
        timestamp_as_of=cfg.get("timestamp_as_of"),
    )


def _iceberg_source(spark, cfg, **_):
    from python_plugins_spark.sources.iceberg_py import read_iceberg

    return read_iceberg(
        spark, cfg["path"],
        snapshot_id=cfg.get("snapshot_id"),
        ref=cfg.get("ref"),
        as_of_timestamp=cfg.get("as_of_timestamp"),
    )


def _warc_source(spark, cfg, **_):
    # crawl archives on disk: one row per response record (warc_file,
    # target_uri, http_status, body_bytes, body_md5, body)
    from python_plugins_spark.operators.warc import read_warc

    return read_warc(spark, cfg["path"])


def _python(cfg, df, **_):
    from python_plugins_spark.operators.transform import python_transform

    res = python_transform(
        df,
        script=cfg["script"],
        output_schema=cfg.get("schema"),
        args=cfg.get("args"),
        on_error=cfg.get("on_error", "fail"),
        emit_alerts=bool(cfg.get("emit_alerts")),
    )
    return {"": res.output, "error": res.errors, "alert": res.alerts}


def _router(name, cfg, df, **_):
    ports = cfg.get("ports") or []
    if not ports:
        raise PipelineSpecError(f"stage {name!r}: router needs ports")
    out, claimed = {}, F.lit(False)
    for pt in ports:
        # NULL conditions must not drop the row from every port: CDAP
        # router semantics send unmatched (incl. NULL-valued) rows to
        # the default port, so treat NULL as non-matching.
        port_cond = F.coalesce(F.expr(pt["condition"]), F.lit(False))
        out[pt["port"]] = df.filter(port_cond & ~claimed)
        claimed = claimed | port_cond
    out["default"] = df.filter(~claimed)
    out[""] = out[ports[0]["port"]]
    return out


def _validate(name, cfg, df, **_):
    # Declarative data-quality expectations with the reference plugin's
    # ERROR-PORT semantics (emitError / "Could not transform input."
    # fail-fast): a row passes only if every rule holds, a NULL rule
    # result counts as a violation, failing rows land on <stage>.errors
    # annotated with the names of the rules they broke. onViolation
    # "fail" makes the main port raise mid-job on the first bad row.
    rules = cfg.get("rules") or []
    if not rules:
        raise PipelineSpecError(
            f"stage {name!r}: validate needs rules [{{name, expr}}, ...]"
        )
    mode = _choice(name, cfg, "onViolation", "route", ("route", "fail"))
    viol = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.coalesce(F.expr(r["expr"]), F.lit(False)),
                    F.lit(r["name"]),
                )
                for r in rules
            ]
        )
    )
    with_v = df.withColumn("_violations", viol)
    errors = with_v.filter(
        F.size("_violations") > 0
    ).withColumn("_n_violations", F.size("_violations"))
    if mode == "fail":
        guard = F.assert_true(
            F.size("_violations") == 0,
            F.concat(
                F.lit(f"stage {name}: validation failed: "),
                F.array_join("_violations", ","),
            ),
        )
        main = (
            with_v.withColumn("_guard", guard)
            .filter(F.col("_guard").isNull())
            .drop("_guard", "_violations")
        )
    else:
        main = with_v.filter(F.size("_violations") == 0).drop("_violations")
    return {"errors": errors, "": main}


def _wrangler(cfg, df, **_):
    from python_plugins_spark.operators.wrangler import wrangle

    return wrangle(df, cfg["directives"])


def _projection(cfg, df, **_):
    for old, new in (cfg.get("rename") or {}).items():
        df = df.withColumnRenamed(old, new)
    if cfg.get("drop"):
        df = df.drop(*cfg["drop"])
    if cfg.get("select"):
        df = df.select(*cfg["select"])
    return df


def _distinct(name, stype, cfg, df, **_):
    if cfg.get("withinWatermark"):
        # streaming dedup with BOUNDED state: keys expire with the
        # watermark instead of accumulating forever — the only
        # scale-safe distinct on an unbounded stream. The input must
        # already carry a watermark (transform.watermark upstream).
        _check_streaming(name, stype, df, True)
        return df.dropDuplicatesWithinWatermark(cfg.get("fields"))
    from python_plugins_spark.operators.relational import distinct_rows

    return distinct_rows(df, cfg.get("fields"))


def _sort_expr(e: str):
    s = e.strip()
    # F.expr doesn't parse a trailing sort direction
    if s.upper().endswith(" DESC"):
        return F.expr(s[: -len(" DESC")]).desc()
    if s.upper().endswith(" ASC"):
        return F.expr(s[: -len(" ASC")]).asc()
    return F.expr(s)


def _window(cfg, df, **_):
    # {partitionBy: [...], orderBy: ["expr [ASC|DESC]", ...],
    #  columns: {out_col: "rank()"}}
    from python_plugins_spark.operators.relational import window_apply

    return window_apply(
        df,
        cfg.get("partitionBy") or [],
        [_sort_expr(e) for e in (cfg.get("orderBy") or [])],
        {k: F.expr(v) for k, v in (cfg.get("columns") or {}).items()},
    )


def _deduplicate(name, cfg, df, **_):
    # CDAP Deduplicate plugin shape: group on uniqueFields and keep ONE
    # record per group chosen by filterOperation ({field, function:
    # min|max}) — deterministic tie-break on the remaining columns so
    # reruns pick the same survivor
    keys = cfg["uniqueFields"]
    op = cfg.get("filterOperation")
    if not op:
        return df.dropDuplicates(keys)
    fn = _choice(name, op, "function", None, ("min", "max"))
    order = F.col(op["field"]).asc() if fn == "min" else F.col(op["field"]).desc()
    ties = [c for c in df.columns if c != op["field"]]
    return _first_per_key(df, keys, [order, *ties], "__rn")


def _normalize(name, cfg, df, **_):
    # CDAP Normalize plugin shape: wide -> long. fieldMapping lists the
    # columns to carry through unchanged; fieldNormalizing maps each
    # source column to one output row as (typeField value = source
    # column name, valueField value = the cell)
    carry = cfg.get("fieldMapping") or []
    norm = cfg.get("fieldNormalizing") or []
    if not norm:
        raise PipelineSpecError(
            f"stage {name!r}: normalize needs fieldNormalizing"
        )
    type_out = cfg.get("typeField", "type")
    value_out = cfg.get("valueField", "value")
    pairs = ", ".join(f"'{c}', cast(`{c}` AS string)" for c in norm)
    return df.selectExpr(
        *[f"`{c}`" for c in carry],
        f"stack({len(norm)}, {pairs}) AS (`{type_out}`, `{value_out}`)",
    )


def _sql(spark, name, cfg, df, **_):
    # arbitrary SQL over the input, registered as a session-scoped temp
    # view named viewName (the statement references it by that name);
    # batch AND streaming
    df.createOrReplaceTempView(cfg.get("viewName", f"{name}_in"))
    return spark.sql(cfg["statement"])


def _filter(cfg, df, **_):
    from python_plugins_spark.operators.relational import filter_rows

    return filter_rows(df, cfg["condition"])


def _qualityfilter(cfg, df, **_):
    # Corpus-curation gate as pure expressions (no Python in the row
    # path): token-count floor/ceiling and a distinct-stopword floor —
    # the cheap Gopher-style rules a spec author reaches for first.
    txt = cfg.get("field", "text")
    toks = F.split(F.lower(F.trim(F.col(txt))), r"\s+")
    cond = F.length(F.trim(F.col(txt))) > 0
    if "minWords" in cfg:
        cond = cond & (F.size(toks) >= int(cfg["minWords"]))
    if "maxWords" in cfg:
        cond = cond & (F.size(toks) <= int(cfg["maxWords"]))
    if "minStopwordHits" in cfg:
        stops = cfg.get(
            "stopwords",
            ["the", "be", "to", "of", "and", "that", "have", "with"],
        )
        hits = F.size(
            F.array_intersect(toks, F.array(*[F.lit(s) for s in stops]))
        )
        cond = cond & (hits >= int(cfg["minStopwordHits"]))
    return df.filter(cond)


def _dedup(name, cfg, df, **_):
    # Exact content dedup (near-dup lives in the operator API),
    # deterministic min-order survivor. The window key is md5(field),
    # not the field itself — at 100 TB the shuffle hashes 16 bytes per
    # row, not the document body (the row still moves once, as it must).
    _choice(name, cfg, "method", "exact", ("exact",))
    md5 = F.md5(F.col(cfg.get("field", "text")).cast("string"))
    return _first_per_key(df, [md5], [F.col(cfg["orderField"]).asc()], "_dedup_rn")


def _selection(name, cfg, df, **_):
    # DSIR importance resampling via operators/selection.py — bucket
    # models broadcast, selection is TakeOrdered
    from python_plugins_spark.operators.selection import dsir_resample_topk

    _choice(name, cfg, "method", "dsir", ("dsir",))
    return dsir_resample_topk(
        df,
        F.expr(cfg["targetCondition"]),
        int(cfg["k"]),
        text_col=cfg.get("textField", "text"),
        id_col=cfg.get("idField", "doc_id"),
        buckets=int(cfg.get("buckets", 256)),
    )


def _warc_extract(name, cfg, df, **_):
    # crawl front door: parse per-row .warc.gz payloads. output
    # "bodies" -> (id, target_uri, http_status, body text) feeding
    # html_extract; "records" -> the md5 census shape used for
    # byte-exactness audits.
    from python_plugins_spark.operators import warc as _W

    mode = _choice(name, cfg, "output", "bodies", ("bodies", "records"))
    fn = _W.extract_warc_bodies if mode == "bodies" else _W.extract_warc_records
    return fn(df, cfg.get("idField", "doc_id"), cfg.get("payloadField", "payload"))


def _robots_filter(name, cfg, df, **_):
    # RFC 9309 policy gate. action "filter" keeps allowed rows and
    # drops the verdict column; "annotate" keeps every row with it.
    from python_plugins_spark.operators.robots import robots_filter

    action = _choice(name, cfg, "action", "filter", ("filter", "annotate"))
    out = robots_filter(
        df,
        cfg.get("pathField", "path"),
        cfg.get("robotsField", "robots_txt"),
        agent=cfg.get("agent", "graftbot"),
    )
    return out.filter("allowed").drop("allowed") if action == "filter" else out


def _perceptual_hash(name, cfg, df, **_):
    # multimodal fingerprint (operators/phash.py). action "annotate"
    # appends the fingerprint to the FULL input row (one id equi-join
    # back onto the input — the hasher's Arrow batch carries only
    # id+payload); "dedup" keeps the min-id FULL row per fingerprint
    # (hash-partitioned window over the fingerprint frame, then the
    # surviving ids join back).
    from python_plugins_spark.operators import phash as _P

    hashers = {
        "image": (_P.image_dhash, "phash"),
        "audio": (_P.audio_fingerprint, "afp"),
        "video": (_P.video_fingerprint, "vfp"),
    }
    hasher, hcol = hashers[_choice(name, cfg, "modality", "image", tuple(hashers))]
    action = _choice(name, cfg, "action", "annotate", ("annotate", "dedup"))
    idf = cfg.get("idField", "doc_id")
    fp = hasher(df, idf, cfg.get("payloadField", "payload"))
    if action == "dedup":
        fp = (
            fp.withColumn("_min_id", F.min(idf).over(Window.partitionBy(hcol)))
            .filter(F.col(idf) == F.col("_min_id"))
            .drop("_min_id")
        )
    return df.join(fp, on=idf, how="left" if action == "annotate" else "inner")


def _robots_extras(cfg, df, **_):
    # Sitemap + Crawl-delay extraction (RFC 9309 group selection):
    # appends sitemaps/n_sitemaps/crawl_delay to the carried row
    from python_plugins_spark.operators.robots import robots_extras

    return robots_extras(
        df,
        cfg.get("robotsField", "robots_txt"),
        agent=cfg.get("agent", "graftbot"),
    )


def _sitemap_parse(cfg, df, **_):
    # sitemaps.org urlset/sitemapindex -> one row per <loc>; carryFields
    # defaults to every input column except the XML itself
    from python_plugins_spark.operators.sitemap import parse_sitemap

    xml_field = cfg.get("xmlField", "xml")
    carry = cfg.get("carryFields") or [c for c in df.columns if c != xml_field]
    return parse_sitemap(df, xml_field, list(carry))


def _html_extract(cfg, df, **_):
    from python_plugins_spark.operators.html_extract import extract_text_column

    return extract_text_column(
        df, cfg.get("htmlField", "html"), cfg.get("idField", "doc_id")
    )


def _nfc_normalize(cfg, df, **_):
    from python_plugins_spark.operators.textnorm import normalize_text

    return normalize_text(
        df,
        cfg.get("field", "text"),
        cfg.get("outputField", "norm_text"),
        form=cfg.get("form", "NFC"),
    )


def _langid(name, cfg, df, **_):
    # trigram NB language ID (operators/langid.py). "annotate" appends
    # pred_lang + n_trigrams + per-language scores; "filter" keeps rows
    # whose verdict is in `keep`. `tiered: true` runs the production
    # composition instead (verdict columns `lang` + `tier`). Input
    # columns are CARRIED through the operators' own narrow
    # projections — no join-back, zero shuffles.
    from python_plugins_spark.operators.langid import lang_id_ngram, lang_id_tiered

    action = _choice(name, cfg, "action", "annotate", ("annotate", "filter"))
    if action == "filter" and not cfg.get("keep"):
        raise PipelineSpecError(
            f"stage {name!r}: langid filter needs keep: [langs]"
        )
    idf = cfg.get("idField", "doc_id")
    carry = [c for c in df.columns if c != idf]
    if cfg.get("tiered"):
        out = lang_id_tiered(df, cfg.get("field", "text"), idf, carry=carry)
        verdict_col = "lang"
    else:
        out = lang_id_ngram(
            df, cfg.get("field", "text"), idf,
            mode=cfg.get("mode", "arrow"), carry=carry,
        )
        verdict_col = "pred_lang"
    if action == "filter":
        out = out.filter(F.col(verdict_col).isin([str(k) for k in cfg["keep"]]))
    return out


def _repetition_filter(name, cfg, df, **_):
    # Gopher repetition gate (operators/repetition.py): keeps rows
    # passing the paper thresholds; "annotate" appends the signals
    # instead. Carried columns, no join.
    from python_plugins_spark.operators.repetition import gopher_repetition

    action = _choice(name, cfg, "action", "filter", ("annotate", "filter"))
    idf = cfg.get("idField", "doc_id")
    sig = gopher_repetition(
        df,
        cfg.get("field", "text"),
        idf,
        carry=[c for c in df.columns if c != idf],
    )
    if action == "annotate":
        return sig
    return sig.filter("passes_repetition").drop(
        "passes_repetition",
        *[c for c in sig.columns if c.startswith(("dup_", "top_"))],
    )


def _joiner(name, cfg, ins, sources, **_):
    how = cfg.get("joinType", "inner")
    if cfg.get("joinCondition"):
        # CDAP advanced-join parity: an arbitrary SQL condition
        # referencing inputs by their PRODUCING STAGE name
        # ("cust.c_custkey = ord.o_custkey AND ord.x > 5") — theta/range
        # joins, not just equi-keys. Each input is aliased by its
        # stage; selectedFields (optional) disambiguates the output.
        if cfg.get("joinKeys"):
            raise PipelineSpecError(
                f"stage {name!r}: joinKeys and joinCondition "
                "are mutually exclusive"
            )
        aliases = [_stage_of(i) for i in sources]
        if len(set(aliases)) != len(aliases):
            raise PipelineSpecError(
                f"stage {name!r}: joinCondition needs distinct "
                f"producing stages, got {aliases}"
            )
        df = ins[0].alias(aliases[0])
        for other, al in zip(ins[1:], aliases[1:]):
            df = df.join(other.alias(al), on=F.expr(cfg["joinCondition"]), how=how)
        if cfg.get("selectedFields"):
            df = df.selectExpr(*cfg["selectedFields"])
        return df
    if "joinKeys" not in cfg:
        raise PipelineSpecError(
            f"stage {name!r}: batchjoiner needs joinKeys or joinCondition"
        )
    df = ins[0]
    for other in ins[1:]:
        df = df.join(other, on=cfg["joinKeys"], how=how)
    return df


def _groupby(name, cfg, df, **_):
    aggs = [_agg_expr(name, a) for a in cfg["aggregates"]]
    return df.groupBy(*cfg["groupByFields"]).agg(*aggs)


def _file_stream(spark, name, cfg, **_):
    from python_plugins_spark.sources.io import fix_nanos_ts

    opts = cfg.get("options", {})
    ffmt = _choice(name, cfg, "format", "parquet", ("parquet", "csv", "json"))
    schema = cfg.get("schema") or getattr(
        spark.read.options(**opts), ffmt
    )(cfg["path"]).schema
    # the file stream source only accepts directories; a single-file
    # path streams via a glob on its parent
    path = cfg["path"]
    reader = spark.readStream.options(**opts).schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return fix_nanos_ts(getattr(reader, ffmt)(path))


def _rate_stream(spark, cfg, **_):
    return spark.readStream.format("rate").options(**cfg.get("options", {})).load()


def _table_stream(spark, stype, cfg, **_):
    fmt = _fmt(stype)
    if fmt == "delta":
        from python_plugins_spark.sources import delta_stream as mod
    else:
        from python_plugins_spark.sources import iceberg_stream as mod
    mod.register(spark)
    return (
        spark.readStream.format(f"{fmt}_py_stream")
        .option("path", cfg["path"])
        .options(**cfg.get("options", {}))
        .load()
    )


def _msgbus_stream(spark, cfg, **_):
    from python_plugins_spark.sources import msgbus as mod

    mod.register(spark)
    return (
        spark.readStream.format("msgbus")
        .option("path", cfg["path"])
        .option("topic", cfg["topic"])
        .options(**cfg.get("options", {}))
        .load()
    )


def _watermark(cfg, df, **_):
    return df.withWatermark(cfg["eventTime"], cfg["delay"])


def _stateful(spark, name, cfg, df, dry_run, **_):
    # keyed state without leaving the spec: running_agg
    # (applyInPandasWithState count+sum) | max | topn
    # (transformWithStateInPandas ValueState/ListState)
    from python_plugins_spark.streaming import ops as _sops

    op = cfg.get("operation", "running_agg")
    if op == "running_agg":
        return _sops.stateful_running_agg(df, list(cfg["keys"]), cfg["valueField"])
    if op not in ("max", "topn"):
        raise PipelineSpecError(
            f"stage {name!r}: unknown stateful operation {op!r}"
        )
    if not dry_run:
        # transformWithStateInPandas keeps each state variable in its
        # own column family — only the RocksDB provider supports that.
        # Set it session-wide (picked up when the query starts) so a
        # spec user needn't know the engine internals; RocksDB is a
        # strict upgrade for any later stateful query too. A dry run
        # starts no query and leaves the session alone.
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    (key,) = cfg["keys"]
    if op == "max":
        return _sops.stateful_max_tracker(df, key, cfg["valueField"])
    return _sops.stateful_topn_tracker(df, key, cfg["valueField"], int(cfg.get("n", 3)))


def _window_agg(window, prefix, name, cfg, df, **_):
    """Streaming window aggregate: ``window(cfg)`` is the window column,
    emitted as ``<prefix>_start``/``<prefix>_end``."""
    if cfg.get("watermark"):
        df = df.withWatermark(cfg["eventTime"], cfg["watermark"])
    aggs = [_agg_expr(name, a) for a in cfg["aggregates"]]
    win = window(cfg).alias("_win")
    out = df.groupBy(win, *cfg.get("groupByFields", [])).agg(*aggs)
    return out.select(
        F.col("_win.start").alias(f"{prefix}_start"),
        F.col("_win.end").alias(f"{prefix}_end"),
        *[c for c in out.columns if c != "_win"],
    )


def _memory_sink(spark, name, cfg, df, dry_run, **_):
    # append + no upstream reduction = every stream row into a
    # driver-side table. A ported user spec must not silently recreate
    # that shape.
    if (
        cfg.get("outputMode", "append") == "append"
        and not cfg.get("allowRawMemorySink", False)
        and not _reduces_rows_for_memory_sink(df)
    ):
        raise PipelineSpecError(
            f"stage {name!r}: streamingsink.memory with outputMode "
            "'append' on an un-aggregated stream drains EVERY input "
            "row into a driver-side memory table — the whole stream "
            "through one JVM heap at scale. Use streamingsink.parquet "
            "or streamingsink.delta (executor-side files; the stage "
            "name binds to a batch read of the sink path after "
            "drain), or set allowRawMemorySink: true for a bounded "
            "debug fixture."
        )
    qname = cfg.get("queryName", name)
    return _sink(
        spark, cfg, df, dry_run,
        lambda: df.writeStream.format("memory").queryName(qname)
        .outputMode(cfg.get("outputMode", "append")),
        lambda: spark.table(qname),
        state_partitions=cfg.get("statePartitions"),
    )


def _parquet_stream_sink(spark, cfg, df, dry_run, **_):
    return _sink(
        spark, cfg, df, dry_run,
        lambda: df.writeStream.format("parquet").option("path", cfg["path"])
        .outputMode(cfg.get("outputMode", "append")),
        lambda: spark.read.parquet(cfg["path"]),
    )


def _foreachbatch_sink(spark, name, cfg, df, dry_run, **_):
    ns: dict = {}
    exec(compile(cfg["script"], f"<{name}.script>", "exec"), ns)
    if "process" not in ns:
        raise PipelineSpecError(
            f"stage {name!r}: script must define process(df, epoch_id)"
        )
    return _sink(
        spark, cfg, df, dry_run, lambda: df.writeStream.foreachBatch(ns["process"])
    )


def _msgbus_stream_sink(spark, cfg, df, dry_run, **_):
    # produce each micro-batch into the topic; the segment name carries
    # the EPOCH id, so a retried batch overwrites its own segment with
    # identical content — exactly-once produce without a transaction log
    from python_plugins_spark.sources import msgbus as _mb

    root, topic, args = cfg["path"], cfg["topic"], _produce_args(cfg)

    def _produce(bdf, epoch_id):
        if not bdf.isEmpty():
            _mb.produce_dataframe(bdf, root, topic, segment_seq=int(epoch_id), **args)

    return _sink(
        spark, cfg, df, dry_run,
        lambda: df.writeStream.foreachBatch(_produce),
        lambda: spark.read.format("msgbus").option("path", root)
        .option("topic", topic).load(),
    )


def _delta_stream_sink(spark, name, cfg, df, dry_run, **_):
    from python_plugins_spark.sources.delta_py import read_delta, write_delta

    path = cfg["path"]
    # SetTransaction idempotence: a crash between the Delta commit and
    # the streaming-checkpoint commit re-runs the epoch on restart; the
    # txn key makes the re-run a no-op. Without a durable
    # checkpointLocation epoch ids restart at 0 on every run, so the
    # app id must be per-run or a FRESH query would silently skip its
    # first epochs.
    app = f"pipeline:{name}:{path}"
    if not cfg.get("checkpointLocation"):
        app = f"{app}:{uuid.uuid4().hex}"

    def _append(bdf, epoch_id):
        if not bdf.isEmpty():
            write_delta(bdf, path, mode="append", txn=(app, int(epoch_id)))

    return _sink(
        spark, cfg, df, dry_run,
        lambda: df.writeStream.foreachBatch(_append),
        lambda: read_delta(spark, path),
    )


def _file_sink(spark, stype, cfg, df, dry_run, **_):
    def write():
        writer = df.write.mode(cfg.get("mode", "overwrite"))
        if cfg.get("partitionBy"):
            writer = writer.partitionBy(*cfg["partitionBy"])
        getattr(writer, _fmt(stype))(cfg["path"])

    return _sink(spark, cfg, df, dry_run, write)


def _delta_sink(spark, cfg, df, dry_run, **_):
    from python_plugins_spark.sources.delta_py import write_delta

    return _sink(spark, cfg, df, dry_run, lambda: write_delta(
        df, cfg["path"], mode=cfg.get("mode", "overwrite"),
        partition_by=cfg.get("partitionBy"),
    ))


def _iceberg_sink(spark, cfg, df, dry_run, **_):
    from python_plugins_spark.sources.iceberg_py import write_iceberg

    return _sink(spark, cfg, df, dry_run, lambda: write_iceberg(
        df, cfg["path"], mode=cfg.get("mode", "overwrite"),
        partition_by=cfg.get("partitionBy") or None,
    ))


def _msgbus_sink(spark, cfg, df, dry_run, **_):
    from python_plugins_spark.sources import msgbus as _mb

    return _sink(spark, cfg, df, dry_run, lambda: _mb.produce_dataframe(
        df, cfg["path"], cfg["topic"],
        segment_seq=int(cfg.get("segmentSeq", 0)), **_produce_args(cfg),
    ))


# type -> (builder, inputs, required config keys, input must stream).
# inputs: 0, 1 or _MANY (two or more); stream: True, False (must be a
# batch frame) or None (either).
_MANY = 2
_STAGES = {
    "batchsource.parquet": (_file_source, 0, ("path",), None),
    "batchsource.csv": (_file_source, 0, ("path",), None),
    "batchsource.json": (_file_source, 0, ("path",), None),
    "batchsource.orc": (_file_source, 0, ("path",), None),
    "batchsource.delta": (_delta_source, 0, ("path",), None),
    "batchsource.iceberg": (_iceberg_source, 0, ("path",), None),
    "batchsource.warc": (_warc_source, 0, ("path",), None),
    "transform.python": (_python, 1, ("script",), None),
    "transform.router": (_router, 1, (), None),
    "transform.validate": (_validate, 1, (), None),
    "transform.wrangler": (_wrangler, 1, ("directives",), None),
    "transform.projection": (_projection, 1, (), None),
    "transform.distinct": (_distinct, 1, (), None),
    "transform.window": (_window, 1, (), None),
    "transform.normalize": (_normalize, 1, (), None),
    "transform.sql": (_sql, 1, ("statement",), None),
    "transform.filter": (_filter, 1, ("condition",), None),
    "transform.qualityfilter": (_qualityfilter, 1, (), None),
    "transform.dedup": (_dedup, 1, ("orderField",), None),
    "transform.selection": (_selection, 1, ("targetCondition", "k"), None),
    "transform.warc_extract": (_warc_extract, 1, (), None),
    "transform.robots_filter": (_robots_filter, 1, (), None),
    "transform.robots_extras": (_robots_extras, 1, (), None),
    "transform.sitemap_parse": (_sitemap_parse, 1, (), None),
    "transform.html_extract": (_html_extract, 1, (), None),
    "transform.nfc_normalize": (_nfc_normalize, 1, (), None),
    "transform.langid": (_langid, 1, (), None),
    "transform.repetition_filter": (_repetition_filter, 1, (), None),
    "transform.perceptual_hash": (_perceptual_hash, 1, (), None),
    "batchjoiner": (_joiner, _MANY, (), None),
    "batchaggregator.groupby": (
        _groupby, 1, ("groupByFields", "aggregates"), None
    ),
    "batchaggregator.deduplicate": (_deduplicate, 1, ("uniqueFields",), None),
    "batchsink.parquet": (_file_sink, 1, ("path",), False),
    "batchsink.csv": (_file_sink, 1, ("path",), False),
    "batchsink.json": (_file_sink, 1, ("path",), False),
    "batchsink.orc": (_file_sink, 1, ("path",), False),
    "batchsink.delta": (_delta_sink, 1, ("path",), False),
    "batchsink.iceberg": (_iceberg_sink, 1, ("path",), False),
    "batchsink.msgbus": (_msgbus_sink, 1, ("path", "topic"), False),
    "streamingsource.file": (_file_stream, 0, ("path",), None),
    "streamingsource.rate": (_rate_stream, 0, (), None),
    "streamingsource.delta": (_table_stream, 0, ("path",), None),
    "streamingsource.iceberg": (_table_stream, 0, ("path",), None),
    "streamingsource.msgbus": (_msgbus_stream, 0, ("path", "topic"), None),
    "transform.watermark": (_watermark, 1, ("eventTime", "delay"), True),
    "streamingtransform.stateful": (
        _stateful, 1, ("keys", "valueField"), True
    ),
    "streamingaggregator.windowed_groupby": (
        partial(_window_agg, lambda c: F.window(
            c["eventTime"], c["windowDuration"], c.get("slide")
        ), "window"),
        1, ("eventTime", "windowDuration", "aggregates"), True,
    ),
    "streamingaggregator.session_window": (
        partial(_window_agg, lambda c: F.session_window(
            c["eventTime"], c["gap"]
        ), "session"),
        1, ("eventTime", "gap", "aggregates"), True,
    ),
    "streamingsink.memory": (_memory_sink, 1, (), True),
    "streamingsink.parquet": (
        _parquet_stream_sink, 1, ("path", "checkpointLocation"), True
    ),
    "streamingsink.foreachbatch": (_foreachbatch_sink, 1, ("script",), True),
    "streamingsink.msgbus": (_msgbus_stream_sink, 1, ("path", "topic"), True),
    "streamingsink.delta": (_delta_stream_sink, 1, ("path",), True),
}


def _parse(spec: dict) -> tuple[dict, dict[str, list[str]]]:
    """The spec's stages by name, and each stage's input connections."""
    stages = {s["name"]: s for s in spec.get("stages", [])}
    if not stages:
        raise PipelineSpecError("pipeline has no stages")
    if len(stages) != len(spec["stages"]):
        raise PipelineSpecError("duplicate stage names")
    inputs: dict[str, list[str]] = {n: [] for n in stages}
    for c in spec.get("connections", []):
        if c["to"] not in inputs:
            raise PipelineSpecError(f"connection to unknown stage {c['to']!r}")
        inputs[c["to"]].append(c["from"])
    return stages, inputs


def _toposort(stages: dict, inputs: dict[str, list[str]]) -> list[str]:
    indeg = {n: len(inputs[n]) for n in stages}
    out = defaultdict(list)
    for n, ins in inputs.items():
        for i in ins:
            if _stage_of(i) not in stages:
                raise PipelineSpecError(f"connection from unknown stage {i!r}")
            out[_stage_of(i)].append(n)
    q = deque([n for n, d in indeg.items() if d == 0])
    order = []
    while q:
        n = q.popleft()
        order.append(n)
        for m in out[n]:
            indeg[m] -= 1
            if indeg[m] == 0:
                q.append(m)
    if len(order) != len(stages):
        cyclic = sorted(set(stages) - set(order))
        raise PipelineSpecError(f"pipeline has a cycle through {cyclic}")
    return order


def run_pipeline(
    spark: SparkSession, spec: dict, dry_run: bool = False
) -> dict[str, DataFrame]:
    """Interpret a pipeline document. ``dry_run=True`` compiles every
    stage (full deploy-time validation, all frames returned) but skips
    sink writes and never starts streaming queries — the prepareRun
    phase, used by :func:`pipeline_field_lineage`."""
    stages, inputs = _parse(spec)
    frames: dict[str, DataFrame] = {}
    for name in _toposort(stages, inputs):
        stype = stages[name]["type"]
        cfg = stages[name].get("config", {})
        missing = [i for i in inputs[name] if i not in frames]
        if missing:
            raise PipelineSpecError(
                f"stage {name!r} consumes unknown port(s) {missing} "
                "(a port exists only after its producer declares it)"
            )
        if stype not in _STAGES:
            raise PipelineSpecError(f"stage {name!r}: unknown type {stype!r}")
        build, arity, required, streaming = _STAGES[stype]
        ins = [frames[i] for i in inputs[name]]
        if not (len(ins) >= _MANY if arity == _MANY else len(ins) == arity):
            raise PipelineSpecError(
                f"stage {name!r} ({stype}) takes "
                f"{'2 or more' if arity == _MANY else arity} input(s), "
                f"got {len(ins)}"
            )
        absent = [k for k in required if k not in cfg]
        if absent:
            raise PipelineSpecError(
                f"stage {name!r} ({stype}) needs config key {absent[0]!r}"
            )
        if streaming is not None:
            _check_streaming(name, stype, ins[0], streaming)
        out = build(
            spark=spark, name=name, stype=stype, cfg=cfg, ins=ins,
            df=ins[0] if ins else None, sources=inputs[name], dry_run=dry_run,
        )
        for port, frame in (out.items() if isinstance(out, dict) else [("", out)]):
            if frame is not None:
                frames[f"{name}.{port}" if port else name] = frame
    return frames


def pipeline_field_lineage(spark: SparkSession, spec: dict) -> dict:
    """Submit-time field lineage for a whole pipeline document — the
    CDAP wire shape the platform records in prepareRun (the reference
    contributes one FieldTransformOperation per python stage,
    ``PythonEvaluator.java:242-259``; the platform assembles the
    per-stage operations into the pipeline's field-lineage document).

    Compiles the pipeline with ``dry_run=True`` (nothing executes) and
    emits one operation per stage::

        {"pipeline": ..., "operations": [
            {"name": <stage>, "type": <stage type>,
             "description": <script/condition/config summary>,
             "inputFields": {upstream-stage-or-port: [cols...]},
             "outputFields": [cols...]},
        ...]}

    Input fields are each upstream port's columns; for the python
    stage the description is the user script itself — exactly what the
    reference records."""
    frames = run_pipeline(spark, spec, dry_run=True)
    _, inputs = _parse(spec)
    ops = []
    for stage in spec["stages"]:
        name, stype = stage["name"], stage["type"]
        cfg = stage.get("config", {})
        desc = (
            cfg.get("script")
            or cfg.get("condition")
            or cfg.get("joinCondition")
            or cfg.get("directives")
            or cfg.get("path", "")
        )
        ops.append(
            {
                "name": name,
                "type": stype,
                "description": desc if isinstance(desc, str) else str(desc),
                "inputFields": {
                    src: list(frames[src].columns) for src in inputs[name]
                },
                "outputFields": list(frames[name].columns),
            }
        )
    return {"pipeline": spec.get("name", "pipeline"), "operations": ops}
