"""Relational core, the transform operator family, LLM-pipeline ops, streaming, and extended relational shapes (grouping sets, windows, percentiles).

Split from the former queries.py; see _core for the registry and conventions."""
from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves postponed type hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from python_plugins_spark.functions import oracle_fragments as OF  # noqa: F401
from python_plugins_spark.operators import dedup as D  # noqa: F401
from python_plugins_spark.operators import multimodal as MM  # noqa: F401
from python_plugins_spark.operators import relational as R  # noqa: F401
from python_plugins_spark.operators import similarity as S  # noqa: F401
from python_plugins_spark.operators import text as TX  # noqa: F401
from python_plugins_spark.operators.asof import asof_join  # noqa: F401
from python_plugins_spark.operators.transform import python_transform  # noqa: F401
from python_plugins_spark.sources.io import load_table  # noqa: F401

from python_plugins_spark.queries._core import (  # noqa: F401
    ORACLES, QUERIES, register, _global_index_part, _ts, _STRF,
)
from python_plugins_spark.session import stage_checkpoint


# =====================================================================
# Relational core (SURVEY.md §2c — scan/filter/agg/join/window/setops)
# =====================================================================

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan -> pushed filter -> 8-agg hash aggregate.
    Whole plan is codegen; partial aggregation happens map-side so the
    shuffle carries one row per (flag, status) per partition."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg ->
    global top-10. Customer side is broadcast (small after the segment
    filter); top-10 is TakeOrderedAndProject, not a full sort."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < "1998-06-01")
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > "1998-06-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            _ts(F.col("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                  JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join. region/nation/supplier broadcast;
    the only large shuffles are orders|x|lineitem on orderkey."""
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = load_table(spark, "nation", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "filter_project_pushdown",
    oracle="""
    SELECT l_orderkey, l_partkey, round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'A'
    """,
)
def filter_project_pushdown(spark, sf_dir):
    """Projection + selective filter; both reach the parquet scan
    (PushedFilters + pruned ReadSchema — asserted in tests)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "A"))
        .select(
            "l_orderkey",
            "l_partkey",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


@register(
    "join_broadcast_parts",
    oracle="""
    SELECT p.p_brand, count(*) AS n_items,
           round(sum(l.l_quantity), 4) AS total_qty,
           round(avg(p.p_retailprice), 4) AS avg_retail
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_broadcast_parts(spark, sf_dir):
    """Fact |x| small dim: explicit broadcast — zero shuffle of the
    lineitem side for the join; only the final small agg shuffles."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


@register(
    "join_left_customer_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 4) AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_customer_orders(spark, sf_dir):
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@register(
    "semi_join_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def semi_join_customers_with_orders(spark, sf_dir):
    """EXISTS as left-semi: the orders side reduces to a key set before
    the join — no row multiplication, broadcastable after the filter."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 400000)
    return R.exists_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_mktsegment")


@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1998-01-01')
    """,
)
def anti_join_customers_without_orders(spark, sf_dir):
    """Anti join; predicate is time-scoped (no 1998+ order) so the
    result is non-empty at every test SF — a zero-row result would
    make the oracle hash-match vacuous."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") >= "1998-01-01")
    return R.not_exists_join(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", F.round(F.col("c_acctbal"), 4).alias("c_acctbal")
    )


@register(
    "agg_distinct_suppliers",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_suppliers(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@register(
    "rollup_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_qty(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    return R.rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 4), "n": F.count("*")},
    )


@register(
    "cube_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_qty(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    return R.cube(
        li,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": F.round(F.sum("l_quantity"), 4), "n": F.count("*")},
    )


@register(
    "window_rank_orders",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY round(o_totalprice, 4) DESC) AS rnk
      FROM orders
    ) WHERE rn <= 5
    """,
)
def window_rank_orders(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy(
        F.round(F.col("o_totalprice"), 4).desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 4).alias("o_totalprice"),
            F.col("rn").cast("long").alias("rn"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "window_running_qty",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty,
           round(avg(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS ma10_qty
    FROM lineitem WHERE l_suppkey <= 5
    """,
)
def window_running_qty(spark, sf_dir):
    """Running/moving aggregates with an explicit ROWS frame and a
    fully deterministic ordering (ties broken by key columns)."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_suppkey") <= 5)
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_qty"),
        F.round(F.avg("l_quantity").over(w.rowsBetween(-9, 0)), 4).alias("ma10_qty"),
    )


@register(
    "topk_per_group_price",
    oracle="""
    SELECT * FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             round(l_extendedprice, 4) AS l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def topk_per_group_price(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = R.top_k_per_group(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        3,
    )
    return out.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice"), 4).alias("l_extendedprice"),
        F.col("rn").cast("long").alias("rn"),
    )


@register(
    "global_top100_orders",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def global_top100_orders(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir)
    return (
        R.sort_limit(o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 100)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice"), 4).alias("o_totalprice"),
            _ts(F.col("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
        )
    )


@register(
    "set_union_intersect",
    oracle="""
    SELECT c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_union_intersect(spark, sf_dir):
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    unioned = R.union_all(building, rich).distinct()
    order_keys = o.select(F.col("o_custkey").alias("c_custkey"))
    return R.intersect(unioned, order_keys)


@register(
    "set_except_customers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_customers(spark, sf_dir):
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    pos = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    return R.except_rows(pos, fin)


@register(
    "pivot_status_qty",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_qty(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = R.pivot(li, ["l_returnflag"], "l_linestatus", ["O", "F"], F.sum("l_quantity"))
    return out.select(
        "l_returnflag",
        F.round(F.col("O"), 4).alias("O"),
        F.round(F.col("F"), 4).alias("F"),
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT measure, round(sum(val), 4) AS total FROM (
      SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
    ) GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    long = R.unpivot(
        li,
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(F.round(F.sum("val"), 4).alias("total"))


@register(
    "scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           upper(substr(o_orderpriority, 3, 20)) AS priority_name,
           length(o_orderpriority) AS prio_len,
           round(abs(o_totalprice - 100000.0), 4) AS dist_from_100k,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_class,
           concat(o_orderstatus, '-', CAST(year(o_orderdate) AS VARCHAR)) AS status_year
    FROM orders
    """,
)
def scalar_string_date_math(spark, sf_dir):
    """Scalar function catalog showcase: date parts, string ops, math,
    conditionals — all JVM built-ins (the reference needed user Python
    for every one of these; SURVEY.md §2b)."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_name"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 4).alias("dist_from_100k"),
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.concat_ws("-", "o_orderstatus", F.year("o_orderdate").cast("string")).alias(
            "status_year"
        ),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(json_extract_string(props, '$.k')::INT), 4) AS avg_k,
           max(json_extract_string(props, '$.k')::INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM s GROUP BY user_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Batch sessionization (30-min gap) then per-user session counts.
    One shuffle partitioning (user_id) serves both window passes."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    sess = (
        ev.withColumn(
            "_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "tumbling_batch_events",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 minutes, ts), '{_STRF}') AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_batch_events(spark, sf_dir):
    """Tumbling 5-minute windows in batch (same aggregation the
    streaming layer runs incrementally — see streaming_tumbling_counts)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            _ts(F.col("win.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "asof_join_purchase",
    oracle=f"""
    SELECT event_id,
           strftime(ts, '{_STRF}') AS ts_s,
           event_type,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_asof
    FROM events
    """,
)
def asof_join_purchase(spark, sf_dir):
    """As-of join: every event picks the latest prior-or-simultaneous
    purchase value of the same user (union+window implementation — one
    shuffle, no per-group Python)."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["value"],
    )
    return joined.select(
        "event_id",
        _ts(F.col("ts")).alias("ts_s"),
        "event_type",
        F.round(F.col("value_asof"), 4).alias("value_asof"),
    )


@register(
    "range_join_value_tiers",
    oracle="""
    SELECT t.tier_name, count(*) AS n, round(sum(e.value), 4) AS total_value
    FROM events e JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 200.0),
                               ('high', 200.0, 1000000.0)) t(tier_name, lo, hi)
      ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier_name
    """,
)
def range_join_value_tiers(spark, sf_dir):
    """Point-in-interval range join against a broadcast tier table
    (BroadcastNestedLoopJoin — correct plan for a 3-row dim)."""
    ev = load_table(spark, "events", sf_dir)
    tiers = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1000000.0)],
        "tier_name string, lo double, hi double",
    )
    joined = R.range_join(ev, tiers, F.col("value"), F.col("lo"), F.col("hi"))
    return joined.groupBy("tier_name").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )

# =====================================================================
# The transform operator family (SURVEY.md §2a/2b — the reference's
# actual surface, re-expressed)
# =====================================================================

@register(
    "transform_revenue_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)) / 100.0, 4)
               AS total_revenue,
           round(sum(floor(l_extendedprice * (1 - l_discount) * 0.07::DOUBLE * 100 + 0.5)) / 100.0, 4)
               AS total_tax,
           count(*) AS n
    FROM lineitem
    WHERE l_quantity < 49
    GROUP BY l_returnflag
    """,
)
def transform_revenue_agg(spark, sf_dir):
    """Flagship: the reference's tax example
    (docs/PythonEvaluator-transform.md:46-84) — per-record Python
    computing revenue + tax with a runtime-arg rate and an error route
    for out-of-range quantities, then a native aggregation on top."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"
    )
    script = """
def transform(record, emitter, context):
    rate = float(context.getArguments().get('taxrate'))
    if record['l_quantity'] >= 49:
        emitter.emitError({'errorCode': 10, 'errorMsg': 'quantity out of range',
                           'invalidRecord': record})
        return
    revenue = record['l_extendedprice'] * (1 - record['l_discount'])
    emitter.emit({'l_returnflag': record['l_returnflag'],
                  'revenue': revenue, 'tax': revenue * rate})
"""
    res = python_transform(
        li,
        script=script,
        output_schema="l_returnflag string, revenue double, tax double",
        args={"taxrate": "0.07"},
        emit_errors=True,
    )
    # exact fixed-point totals: each row's revenue/tax is floored to
    # integer cents (floor(x*100+0.5) is half-up in BOTH engines — no
    # round-mode divergence), so the group sums are integers and the
    # result is independent of summation order at any scale
    return res.output.groupBy("l_returnflag").agg(
        F.round(F.sum(F.floor(F.col("revenue") * 100 + 0.5)) / 100.0, 4).alias("total_revenue"),
        F.round(F.sum(F.floor(F.col("tax") * 100 + 0.5)) / 100.0, 4).alias("total_tax"),
        F.count("*").alias("n"),
    )


@register(
    "transform_identity_region",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def transform_identity_region(spark, sf_dir):
    """Identity pass-through (reference BasePythonTransformTest.java:102-114):
    no output schema declared -> input schema passes through."""
    r = load_table(spark, "region", sf_dir)
    return python_transform(
        r, script="def transform(record, emitter, context):\n    emitter.emit(record)\n"
    ).output


@register(
    "transform_filter_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 2",
)
def transform_filter_nation(spark, sf_dir):
    """Record-level filter (reference BasePythonTransformTest.java:117-135)."""
    n = load_table(spark, "nation", sf_dir)
    script = """
def transform(record, emitter, context):
    if record['n_regionkey'] != 2:
        emitter.emit(record)
"""
    return python_transform(n, script=script).output


@register(
    "transform_python2_script",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % 2 = 0
    """,
)
def transform_python2_script(spark, sf_dir):
    """A VERBATIM Python-2 CDAP script (print statement, ``has_key``,
    ``except E, e``, ``<>``, ``long()``) — the dialect the reference's
    Jython 2.5 Interpreted mode runs and its own tests use
    (``print "emitting..."``, PythonTransformNativeTest.java:60-62).
    The deploy-time compile detects the SyntaxError, applies the
    tokenize-based shim (operators/py2shim.py), and the
    script runs unmodified — closing the last migration gap for users
    carrying Python-2 pipeline scripts."""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    script = """
def transform(record, emitter, context):
    if record['c_custkey'] < 3:
        print "emitting records"
    try:
        x = long(record['c_custkey'])
    except Exception, e:
        x = 0
    if record.has_key('c_custkey') and record['c_nationkey'] <> 99 and x % 2 == 0:
        emitter.emit(record)
"""
    return python_transform(c, script=script).output


@register(
    "transform_fanout_region",
    oracle="""
    SELECT r_regionkey, r_name, 'orig' AS variant FROM region
    UNION ALL
    SELECT r_regionkey, lower(r_name), 'lower' FROM region
    """,
)
def transform_fanout_region(spark, sf_dir):
    """1->N fan-out (reference BasePythonTransformTest.java:138-163):
    each record emits twice with a variant tag."""
    r = load_table(spark, "region", sf_dir)
    script = """
def transform(record, emitter, context):
    emitter.emit({'r_regionkey': record['r_regionkey'], 'r_name': record['r_name'],
                  'variant': 'orig'})
    emitter.emit({'r_regionkey': record['r_regionkey'], 'r_name': record['r_name'].lower(),
                  'variant': 'lower'})
"""
    return python_transform(
        r, script=script, output_schema="r_regionkey int, r_name string, variant string"
    ).output


@register(
    "transform_project_supplier",
    oracle="""
    SELECT s_suppkey AS supp_id, upper(s_name) AS supp_name,
           round(s_acctbal, 4) AS balance
    FROM supplier
    """,
)
def transform_project_supplier(spark, sf_dir):
    """Projection + rename + drop via the declared output schema
    (reference PythonEvaluatorTest.java:278-295): emitted dict keys not
    in the schema are dropped, schema fields missing become null."""
    s = load_table(spark, "supplier", sf_dir)
    script = """
def transform(record, emitter, context):
    emitter.emit({'supp_id': record['s_suppkey'],
                  'supp_name': record['s_name'].upper(),
                  'balance': round(record['s_acctbal'], 4),
                  'ignored_extra_key': 'dropped by schema'})
"""
    return python_transform(
        s, script=script, output_schema="supp_id bigint, supp_name string, balance double"
    ).output


@register(
    "transform_error_port_customers",
    oracle="""
    SELECT 22 AS errorCode, 'negative balance' AS errorMsg, c_custkey
    FROM customer WHERE c_acctbal < 0
    """,
)
def transform_error_port_customers(spark, sf_dir):
    """The error port as a first-class dataset (reference
    PythonEvaluatorTest.java:261-275 / docs error-handling example)."""
    c = load_table(spark, "customer", sf_dir)
    script = """
def transform(record, emitter, context):
    if record['c_acctbal'] < 0:
        emitter.emitError({'errorCode': 22, 'errorMsg': 'negative balance',
                           'invalidRecord': record})
    else:
        emitter.emit(record)
"""
    res = python_transform(c, script=script, emit_errors=True)
    return res.errors.select(
        "errorCode", "errorMsg", F.col("invalidRecord.c_custkey").alias("c_custkey")
    )


@register(
    "columnar_fastpath_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price,
           CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'retail' END AS qty_class
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    """,
)
def columnar_fastpath_lineitem(spark, sf_dir):
    """The columnar fast path (SURVEY.md §4 mitigation b): the same
    shape as a python_transform but expressed as Column exprs — stays
    in whole-stage codegen, ~2 orders faster per row."""
    from python_plugins_spark.operators.transform import columnar_transform

    li = load_table(spark, "lineitem", sf_dir)
    out = columnar_transform(
        li,
        exprs={
            "net_price": F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4),
            "qty_class": F.when(F.col("l_quantity") >= 25, "bulk").otherwise("retail"),
        },
        where=F.col("l_shipdate") >= "2000-01-01",
    )
    return out.select("l_orderkey", "l_linenumber", "net_price", "qty_class")


# =====================================================================
# LLM-pipeline operators (north star: dedup / similarity / text /
# multimodal)
# =====================================================================

@register(
    "dedup_exact_documents",
    oracle=D.dedup_exact_oracle_sql(
        "documents", ["text"], "doc_id", "doc_id, lang, source"
    ),
)
def dedup_exact_documents(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return D.dedup_exact(docs, ["text"], "doc_id").select("doc_id", "lang", "source")


@register(
    "doc_fingerprint_docs",
    oracle=TX.doc_fingerprint_oracle_sql("documents", "text", "doc_id"),
)
def doc_fingerprint_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return TX.doc_fingerprint(docs, "text", "doc_id")


@register(
    "minhash_signatures",
    oracle=D.minhash_signature_oracle_sql("documents", "text", "doc_id"),
)
def minhash_signatures(spark, sf_dir):
    """Flattened (doc_id, pos, minhash) so the full 32-permutation
    signature is hash-verified against the oracle."""
    docs = load_table(spark, "documents", sf_dir)
    sig = D.minhash_signature(docs, "text", "doc_id")
    return sig.select(
        "doc_id", F.posexplode("sig").alias("pos", "minhash")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "minhash")


@register(
    "minhash_lsh_candidates",
    oracle=D.minhash_lsh_pairs_oracle_sql("documents", "text", "doc_id"),
)
def minhash_lsh_candidates(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_lsh_pairs(docs, "text", "doc_id")


# The verified near-dup pair graph (LSH candidates -> exact Jaccard
# >= 0.5) is the shared upstream of four registry queries. Memoize the
# checkpointed result per (application, sf_dir): the driver's
# correctness gate runs queries back-to-back in one session, and
# recomputing a ~10 s pipeline four times is pure waste (the memo is
# also exactly what a production pipeline does — materialize the pair
# graph once, fan out consumers).
_NEARDUP_EDGES_MEMO: dict[tuple[str, str], DataFrame] = {}


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard) verified pairs, eagerly checkpointed."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _NEARDUP_EDGES_MEMO.get(key)
    if hit is not None:
        return hit
    docs = load_table(spark, "documents", sf_dir)
    candidates = D.minhash_lsh_pairs(docs, "text", "doc_id")
    pairs = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", 0.5, candidates=candidates
    ).transform(stage_checkpoint)
    _NEARDUP_EDGES_MEMO[key] = pairs
    return pairs


@register(
    "jaccard_similar_pairs",
    oracle=D.ngram_jaccard_pairs_oracle_sql("documents", "text", "doc_id", 0.5),
)
def jaccard_similar_pairs(spark, sf_dir):
    """Exact-verification stage: Jaccard >= 0.5 on LSH candidates (the
    oracle brute-forces all pairs — LSH recall at this threshold is
    guaranteed-in-practice by 8 bands x 4 rows, verified by the match)."""
    return _neardup_edges(spark, sf_dir)


@register(
    "cross_corpus_decontam",
    oracle=f"""
    WITH pairs AS (
        {D.ngram_jaccard_pairs_oracle_sql("documents", "text", "doc_id", 0.5)}
    )
    SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS train_id,
           CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS bench_id,
           jaccard
    FROM pairs
    WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
    """,
)
def cross_corpus_decontam(spark, sf_dir):
    """Benchmark decontamination at MinHash scale: docs with
    doc_id % 10 == 0 stand in for the eval/benchmark set; a TRAIN doc
    is contaminated when a verified near-dup edge (LSH candidates ->
    exact Jaccard >= 0.5) connects it to a benchmark doc. Reuses the
    memoized pair graph, so the whole decontamination costs one
    band-bucket equi-join however large the corpus — the production
    'drop paraphrased eval leaks from train' pass, complementing the
    exact n-gram contamination_ngram_overlap."""
    is_bench = lambda c: c % 10 == 0  # noqa: E731
    e = _neardup_edges(spark, sf_dir)
    return (
        e.filter(is_bench(F.col("id_a")) != is_bench(F.col("id_b")))
        .select(
            F.when(is_bench(F.col("id_a")), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_id"),
            F.when(is_bench(F.col("id_a")), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("bench_id"),
            "jaccard",
        )
    )


@register(
    "simhash_signatures",
    oracle=D.simhash_oracle_sql("documents", "text", "doc_id"),
)
def simhash_signatures(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash(docs, "text", "doc_id")


@register(
    "simhash_near_pairs",
    oracle=D.simhash_pairs_oracle_sql("documents", "text", "doc_id", 3),
)
def simhash_near_pairs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_pairs(docs, "text", "doc_id", max_hamming=3)


@register(
    "embedding_neardup_exact_baseline",
    oracle=S.cosine_pairs_oracle_sql("embeddings", "vec_id", "embedding", 0.4),
)
def embedding_neardup_exact_baseline(spark, sf_dir):
    """O(n^2) exact cosine pairs — kept ONLY as the oracle-checkable
    exactness baseline. The flagship near-dup path is
    ``embedding_lsh_neardup`` (LSH-bucketed candidates + exact
    verification, one equi-join)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.cosine_pairs(emb, "vec_id", "embedding", 0.4)


@register(
    "ann_topk_cosine",
    oracle=S.ann_topk_oracle_sql("embeddings", "vec_id", "embedding", 5),
)
def ann_topk_cosine(spark, sf_dir):
    """Exact top-k via the distributed block-matrix path: hash-packed
    query/corpus blocks, one BLAS matmul per block pair in
    ``mapInArrow``, partitioned-window global reduce. No table data
    transits the driver (the size-gated single-node broadcast variant
    is ``S.ann_topk_numpy``; the sub-quadratic approximate path is
    ``ann_topk_ivf``)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.ann_topk_blocked(emb, "vec_id", "embedding", 5)


@register(
    "ann_serving_exact_topk",
    oracle=S.ann_topk_queries_oracle_sql(
        "embeddings", "vec_id", "embedding", 10, 100
    ),
)
def ann_serving_exact_topk(spark, sf_dir):
    """Exact top-k in the SERVING shape (round 11): a bounded
    100-query batch against the whole corpus via the block-grid BLAS
    path (operators/similarity.py ann_topk_queries) — the baseline
    the trained-IVF index must beat. The measured crossover is
    BOX-STATE DEPENDENT within the 80k-160k corpus-row band (round 12,
    head to head): one probed-clean run had the index decisively
    ahead already at 80k (1.11 s vs 2.67 s exact, recall@10 0.997);
    another read exact 1.02-1.92 s at 80k — overhead-floored, both
    paths in the noise — with the first clear win at 160k. At 320k
    the margin cleared the noise band in every observed box state.
    Queries are the lowest 100 vec_ids, so the oracle replays the
    same batch."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.orderBy("vec_id").limit(100)
    return S.ann_topk_queries(emb, q, "vec_id", "embedding", 10)


@register("ann_topk_ivf")
def ann_topk_ivf(spark, sf_dir):
    """IVF approximate top-k, UNTRAINED index (no SQL oracle —
    approximate by design; recall vs brute force is asserted in
    test_ivf_recall). Kept as the baseline point of the recall curve;
    the serving-quality path is ``ann_topk_ivf_trained``."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.ivf_ann_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=4)


@register("ann_topk_ivf_trained")
def ann_topk_ivf_trained(spark, sf_dir):
    """IVF approximate top-k with TRAINED centroids
    (operators/similarity.py ivf_train_centroids): spherical k-means —
    k-means++ seeded on a deterministic hash-ordered sample, then
    distributed partial-sum refinement passes over the full corpus —
    replaces the untrained lowest-id centroid convention. On the
    planted-cluster fixture this lifts recall@5 from ~0.63 to >0.99
    at nprobe=2 (floors pinned in test_ivf_trained_recall_clustered).
    No SQL oracle — approximate by design, like ann_topk_ivf."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = S.ivf_train_centroids(emb, "embedding", k=16)
    return S.ivf_ann_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=4,
        centroids=cents,
    )


@register(
    "ann_topk_sq8",
    oracle=S.sq8_adc_topk_oracle_sql("embeddings", "vec_id", "embedding", 64, 5),
)
def ann_topk_sq8(spark, sf_dir):
    """Asymmetric-distance top-k served directly over the PACKED
    1-byte-per-dim SQ8 codes (operators/similarity.py sq8_adc_topk):
    the query the quantize_embeddings_int8 storage format exists for —
    the corpus side holds dim bytes per vector in memory end-to-end
    (the realized 4x cut), float queries dequantize-and-score each
    block with one BLAS matmul. Deterministic (exact scan over exact
    codes), so fully oracle-checked — the DuckDB twin replays extrema,
    floor-affine code, dequantize, and the asymmetric cosine ranking,
    unlike the approximate IVF/PQ entries."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.sq8_adc_topk(emb, "vec_id", "embedding", dim=64, k=5)


@register(
    "text_stats_docs",
    oracle=TX.text_stats_oracle_sql("documents", "text", "doc_id"),
)
def text_stats_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return TX.text_stats(docs, "text", "doc_id")


@register(
    "quality_score_docs",
    oracle=TX.quality_score_oracle_sql("documents", "text", "doc_id"),
)
def quality_score_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return TX.quality_score(docs, "text", "doc_id")


@register(
    "lang_id_docs",
    oracle=TX.lang_id_oracle_sql("documents", "text", "doc_id"),
)
def lang_id_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return TX.lang_id(docs, "text", "doc_id")


@register(
    "token_count_docs",
    oracle=TX.token_count_oracle_sql("documents", "text", "doc_id"),
)
def token_count_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    return TX.token_count(docs, "text", "doc_id")


@register(
    "multimodal_fake_decode",
    oracle=MM.decode_stub_features_oracle_sql("documents", "text", "doc_id"),
)
def multimodal_fake_decode(spark, sf_dir):
    """Binary payload pipeline: text -> UTF-8 payload + metadata ->
    Arrow-batched pseudo-decode (md5-derived features). The plumbing —
    schema, batching, UDF signature — is the real multimodal path; only
    the codec is faked (no image libs in this container)."""
    docs = load_table(spark, "documents", sf_dir)
    with_payload = MM.attach_payload(docs, "text")
    return MM.decode_stub_features(with_payload, "payload", "doc_id", fake=True)


# =====================================================================
# Streaming (same operators, incremental execution)
# =====================================================================

@register(
    "streaming_tumbling_counts",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 minutes, ts), '{_STRF}') AS window_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark, sf_dir):
    """Tumbling-window counts executed as a real Structured Streaming
    query (file source -> complete-mode memory sink, drained
    synchronously), verified against the batch oracle — proving the
    batch/streaming duality the reference only declared (pom.xml:134-137)."""
    import uuid

    from python_plugins_spark.streaming import read_stream_parquet, run_to_memory_sink

    from python_plugins_spark.sources.io import fix_nanos_ts

    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    agg = (
        stream.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(_ts(F.col("win.start")).alias("window_start"), "event_type", "n")
    )
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    # bounded drain, small keyspace (window x event_type): 8 state
    # stores instead of 32 — see run_to_memory_sink(state_partitions=)
    return run_to_memory_sink(
        agg, name, output_mode="complete", state_partitions=8
    )


@register(
    "streaming_transform_filter",
    oracle="""
    SELECT event_id, user_id, round(value * 2, 4) AS doubled
    FROM events WHERE event_type = 'purchase'
    """,
)
def streaming_transform_filter(spark, sf_dir):
    """The reference's core promise — the identical python_transform
    running on a stream (append mode, stateless)."""
    import uuid

    from python_plugins_spark.streaming import (
        read_stream_parquet,
        run_to_memory_sink,
        streaming_python_transform,
    )

    from python_plugins_spark.sources.io import fix_nanos_ts

    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    script = """
def transform(record, emitter, context):
    if record['event_type'] == 'purchase':
        emitter.emit({'event_id': record['event_id'], 'user_id': record['user_id'],
                      'doubled': round(record['value'] * 2, 4)})
"""
    res = streaming_python_transform(
        stream, script=script, output_schema="event_id bigint, user_id bigint, doubled double"
    )
    name = f"stream_transform_{uuid.uuid4().hex[:8]}"
    return run_to_memory_sink(res.output, name, output_mode="append")


# =====================================================================
# Batch 2: grouping sets, extended windows, exact percentiles,
# correlated aggregates, vocab stats, LSH buckets, sliding windows,
# session-window streaming, stateful streaming, frame sampling,
# skew-resistant join, join-strategy hints, approx sketches
# =====================================================================

@register(
    "grouping_sets_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_qty(spark, sf_dir):
    """Arbitrary GROUPING SETS (beyond rollup/cube) via Spark SQL."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "window_lag_lead_ntile",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(lag(o_totalprice) OVER w, 4) AS prev_price,
           round(lead(o_totalprice) OVER w, 4) AS next_price,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING), 4) AS min_price
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_lag_lead_ntile(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.first("o_totalprice").over(w_full), 4).alias("min_price"),
    )


@register(
    "percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_exact(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont: both linear-interpolate on the sorted set)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "having_big_spenders",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_custkey
    HAVING sum(o_totalprice) > 1000000
    """,
)
def having_big_spenders(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
            F.sum("o_totalprice").alias("_raw_total"),
        )
        .filter(F.col("_raw_total") > 1000000)
        .drop("_raw_total")
    )


@register(
    "correlated_above_avg_orders",
    oracle="""
    SELECT o.o_orderkey, round(o.o_totalprice, 4) AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def correlated_above_avg_orders(spark, sf_dir):
    """Scalar-subquery predicate (Catalyst evaluates the subquery once
    and broadcasts the scalar)."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("_corr_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, round(o.o_totalprice, 4) AS o_totalprice
        FROM _corr_orders o
        WHERE o.o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM _corr_orders)
        """
    )


@register(
    "vocab_per_source",
    oracle="""
    SELECT source, count(DISTINCT tk) AS vocab, count(*) AS total_tokens
    FROM (SELECT source, unnest(str_split_regex(lower(trim(text)), '\\s+')) AS tk
          FROM documents)
    GROUP BY source
    """,
)
def vocab_per_source(spark, sf_dir):
    """Distinct-token vocabulary per source: explode + distinct agg —
    at 100 TB this is the canonical two-phase (partial distinct)
    aggregation shape."""
    from python_plugins_spark.functions import tokens as _tokens

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("source", F.explode(_tokens(F.col("text"))).alias("tk"))
    return tok.groupBy("source").agg(
        F.countDistinct("tk").alias("vocab"), F.count("*").alias("total_tokens")
    )


@register(
    "lsh_buckets_embeddings",
    oracle=S.lsh_buckets_oracle_sql("embeddings", "vec_id", "embedding", 16, 64),
)
def lsh_buckets_embeddings(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment (the ANN scale path's
    partitioning key), hash-verified against plane-literal SQL."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.lsh_buckets(emb, "vec_id", "embedding", n_planes=16, dim=64)


@register(
    "sliding_window_events",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 minutes, ts) - (k * INTERVAL 5 minutes),
                    '{_STRF}') AS window_start,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) o(k)
    GROUP BY 1
    """,
)
def sliding_window_events(spark, sf_dir):
    """Sliding windows (10-min length, 5-min slide): every event lands
    in exactly two windows."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(_ts(F.col("win.start")).alias("window_start"), "n", "total_value")
    )


@register(
    "streaming_session_windows",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           strftime(min(ts), '{_STRF}') AS session_start,
           strftime(max(ts) + INTERVAL 30 minutes, '{_STRF}') AS session_end,
           count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark, sf_dir):
    """Native session_window on a real stream, verified against the
    batch gap-sessionization oracle (a session extends while the gap is
    < 30 min; window end = last event + gap)."""
    import uuid

    from python_plugins_spark.sources.io import fix_nanos_ts
    from python_plugins_spark.streaming import read_stream_parquet, run_to_memory_sink

    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            _ts(F.col("win.start")).alias("session_start"),
            _ts(F.col("win.end")).alias("session_end"),
            "n",
        )
    )
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    return run_to_memory_sink(agg, name, output_mode="complete")


@register(
    "stateful_running_totals",
    oracle="""
    SELECT event_type, count(*) AS running_count, round(sum(value), 4) AS running_sum
    FROM events GROUP BY event_type
    """,
)
def stateful_running_totals(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key running count+sum. With the whole table as one micro-batch
    the final state equals the batch aggregate — which is exactly what
    the oracle checks."""
    import uuid

    from python_plugins_spark.sources.io import fix_nanos_ts
    from python_plugins_spark.streaming import (
        read_stream_parquet,
        run_to_memory_sink,
        stateful_running_agg,
    )

    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    out = stateful_running_agg(stream, ["event_type"], "value")
    name = f"stream_state_{uuid.uuid4().hex[:8]}"
    got = run_to_memory_sink(out, name, output_mode="update")
    return got.select(
        "event_type",
        "running_count",
        F.round(F.col("running_sum"), 4).alias("running_sum"),
    )


@register(
    "streaming_stateful_topn",
    oracle="""
    SELECT event_type, rk::INT AS rk, round(value, 4) AS value FROM (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value DESC) AS rk
      FROM events
    ) WHERE rk <= 3
    """,
)
def streaming_stateful_topn(spark, sf_dir):
    """Per-key running top-3 via ``transformWithStateInPandas`` with
    typed ListState (list put/get bounded to n elements — state that
    cannot grow with the stream). Whole table in one micro-batch =>
    final state equals the batch per-key top-3 the oracle computes
    (value ties produce identical row multisets either way)."""
    import uuid

    from python_plugins_spark.sources.io import ensure_session_confs, fix_nanos_ts
    from python_plugins_spark.streaming import (
        read_stream_parquet,
        run_to_memory_sink,
        stateful_topn_tracker,
    )

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    out = stateful_topn_tracker(stream, "event_type", "value", n=3)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        name = f"stream_twstopn_{uuid.uuid4().hex[:8]}"
        got = run_to_memory_sink(out, name, output_mode="update")
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    return got.select("event_type", "rk", F.round(F.col("value"), 4).alias("value"))


@register(
    "streaming_stateful_max",
    oracle="""
    SELECT event_type, round(max(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
)
def streaming_stateful_max(spark, sf_dir):
    """Per-key running max via ``transformWithStateInPandas`` — Spark
    4's modern stateful API (typed ValueState + explicit processor
    lifecycle), un-gated by the vendored protobuf shim
    (vendor/protobuf_shim.py). Whole table in one micro-batch => final
    state equals the batch MAX the oracle computes."""
    import uuid

    from python_plugins_spark.sources.io import ensure_session_confs, fix_nanos_ts
    from python_plugins_spark.streaming import (
        read_stream_parquet,
        run_to_memory_sink,
        stateful_max_tracker,
    )

    ensure_session_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = fix_nanos_ts(
        read_stream_parquet(spark, f"{sf_dir}/events.parquet", raw_schema)
    )
    out = stateful_max_tracker(stream, "event_type", "value")
    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that (the default
    # HDFS-backed store rejects it). Per-query conf, picked up at
    # stream start; restored after the drain.
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        name = f"stream_twsmax_{uuid.uuid4().hex[:8]}"
        got = run_to_memory_sink(out, name, output_mode="update")
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    return got.select(
        "event_type", F.round(F.col("max_value"), 4).alias("max_value")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, k AS frame_no,
           substr(text, 1 + (k * length(text)) // 4, 16) AS frame_str
    FROM documents CROSS JOIN (VALUES (0), (1), (2), (3)) o(k)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: 4 evenly-spaced 16-byte slices per
    payload (the 1->N fan-out a video frame sampler has). Payload bytes
    are the UTF-8 text, so the string oracle is byte-exact (corpus is
    ASCII)."""
    docs = load_table(spark, "documents", sf_dir)
    with_payload = MM.attach_payload(docs, "text")
    frames = MM.sample_frames(with_payload, "payload", "doc_id", n_frames=4, frame_bytes=16)
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("frame_bytes").cast("string").alias("frame_str"),
    )


@register(
    "asof_join_pandas_purchase",
    oracle=f"""
    SELECT event_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_asof
    FROM events WHERE user_id <= 10
    """,
)
def asof_join_pandas_purchase(spark, sf_dir):
    """The applyInPandas/merge_asof implementation of the as-of join —
    same semantics as the union-window one, cross-checked by sharing
    its oracle shape."""
    from python_plugins_spark.operators.asof import asof_join_pandas

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= 10)
    left = ev.select("event_id", "user_id", "ts", "event_type")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join_pandas(left, right, "user_id", "ts", "ts", ["value"])
    return joined.select(
        "event_id", F.round(F.col("value_asof"), 4).alias("value_asof")
    )


@register(
    "salted_join_orders",
    oracle="""
    SELECT o.o_orderstatus, count(*) AS n, round(sum(l.l_quantity), 4) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def salted_join_orders(spark, sf_dir):
    """Skew-resistant salted join (16-way key split) — result-identical
    to the plain equi-join the oracle runs."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("k"), "o_orderstatus"
    )
    joined = R.salted_join(li, o, "k", salt=16)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("total_qty")
    )


@register(
    "join_merge_hint",
    oracle="""
    SELECT l.l_returnflag, count(*) AS n, round(avg(o.o_totalprice), 4) AS avg_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def join_merge_hint(spark, sf_dir):
    """Explicit sort-merge-join strategy hint (the right choice when
    both sides are huge and sorted output can be reused)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
    )


@register("approx_sketches")
def approx_sketches(spark, sf_dir):
    """Approximate sketches (HLL distinct, quantile sketch) — no SQL
    oracle by design (DuckDB's approx algorithms differ); rows-only
    check + exactness-bounds asserted in tests."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_p50"),
    )


# =====================================================================
