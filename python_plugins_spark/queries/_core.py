"""The engine's query registry — the driver-facing contract.

Every implemented operator (SURVEY.md §2) appears here as a named query
``(spark, sf_dir) -> DataFrame`` together with the ANSI/DuckDB SQL that
computes the identical result on the same parquet tables. The driver
hash-compares the two at sf=0.01 (CORRECTNESS gate); ``bench.py`` and
``perfbench`` time the headline subset ``BENCH_QUERIES`` at sf=0.1.

Engine-portability conventions (so value hashes match):

- timestamps are emitted as formatted strings (Spark session TZ is
  pinned UTC; DuckDB is UTC-naive);
- floating aggregates are rounded (4 dp for sums/avgs — accumulated FP
  error across partition orders is ~1e-9 relative, far below rounding).
  EXCEPTION — whole-table-magnitude sums (e.g. sum(o_totalprice) over
  one status group ~1e10 at sf0.1): fixed-decimal-place rounding does
  not scale with magnitude, so those sums aggregate EXACTLY as
  DECIMAL(18,2) per-row casts (identical on both engines) and cast
  back to DOUBLE for comparison — scale-proof at any SF;
- every computed column is aliased identically on both sides;
- top-N queries order by (rounded measure, unique key) so the selected
  set is identical under either engine's sort.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves postponed type hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_plugins_spark.functions import oracle_fragments as OF
from python_plugins_spark.operators import dedup as D
from python_plugins_spark.operators import multimodal as MM
from python_plugins_spark.operators import relational as R
from python_plugins_spark.operators import similarity as S
from python_plugins_spark.operators import text as TX
from python_plugins_spark.operators.asof import asof_join
from python_plugins_spark.operators.transform import python_transform
from python_plugins_spark.sources.io import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Headline queries timed by bench.py and perfbench's headline workload, in
# this order (a representative cross-section: scan+agg, multi-join,
# window, transform, dedup, similarity, text).
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "window_running_qty",
    "topk_per_group_price",
    "transform_revenue_agg",
    "minhash_lsh_candidates",
    "simhash_signatures",
    "ann_topk_cosine",
    "text_stats_docs",
    "sessionize_events",
    "json_extract_events",
    "embedding_lsh_neardup",
    "dedup_exact_documents",
    "multimodal_fake_decode",
    "streaming_tumbling_counts",
    "q13_order_distribution",
    "q18_big_orders",
    "cdc_upsert_latest",
    "label_centroids",
    "higher_order_array_funcs",
    "applyinpandas_zscore",
]


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _global_index_part(df, *sort_cols, n_parts: int = 16):
    """Build the range-partitioned, locally-numbered frame behind the
    distributed global-index pattern (global_sequence_orders,
    quality_tier_binning): range-partition on the sort key(s), sort
    within partitions, and derive (pid, local_rn) from
    monotonically_increasing_id. The FACT DATA SHUFFLES ONCE — the
    range exchange; local numbering is a narrow op.

    Callers MUST materialize the result exactly once (eager
    localCheckpoint) before branching into counts/rank subtrees:
    under AQE the two branches can otherwise re-evaluate the exchange
    with different coalescing and disagree on pid/local_rn (observed
    at sf0.1 as off-by-a-few tier populations). The plan test asserts
    the single-range-shuffle property on THIS pre-checkpoint frame,
    since the checkpoint hides the exchange from the final plan."""
    return (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "local_rn",
            F.monotonically_increasing_id()
            - (F.col("pid").cast("long") * F.lit(1 << 33)),
        )
    )


def _ts(col, fmt: str = "yyyy-MM-dd HH:mm:ss"):
    return F.date_format(col, fmt)


_STRF = "%Y-%m-%d %H:%M:%S"


