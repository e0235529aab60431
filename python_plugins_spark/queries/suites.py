"""Operator-suite registrations: BM25/SemDeDup/RRF retrieval, record linkage, format conversion, ML-prep, streaming online dedup, persisted ANN index, tokenizer, wrangler, pipeline runner, recursive CTEs, temperature mixtures.

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

from python_plugins_spark.queries.sources_sinks import _SCRATCH  # noqa: F401


# Retrieval suite (operators/retrieval.py): BM25, SemDeDup, RRF hybrid
# =====================================================================

def _install_retrieval_queries():
    from python_plugins_spark.operators import retrieval as RV

    @register(
        "bm25_topk_docs",
        oracle=RV.bm25_topk_oracle_sql("documents", "text", "doc_id"),
    )
    def bm25_topk_docs(spark, sf_dir):
        """Okapi BM25 top-10 docs for the corpus's 5 highest-df terms —
        the lexical-retrieval workhorse as pure relational algebra (one
        tokenization pass -> tf/dl/df aggregates; broadcast query-term
        and corpus-stats relations; per-term ranking window). See
        operators/retrieval.py for the 100 TB argument."""
        docs = load_table(spark, "documents", sf_dir)
        return RV.bm25_topk(docs, "text", "doc_id")

    @register(
        "semantic_dedup_embeddings",
        oracle=RV.semantic_dedup_oracle_sql(
            "embeddings", "vec_id", "embedding", threshold=0.35, dim=64
        ),
    )
    def semantic_dedup_embeddings(spark, sf_dir):
        """SemDeDup-style semantic dedup: LSH-cluster embeddings, drop
        any vector with an earlier intra-cluster neighbor at cosine >=
        the threshold, keep the rest. Candidates come from a bucket
        equi-join (never crossJoin); decision is one aggregated
        anti-join. The synthetic embeddings have no true near-dups
        (max pairwise cosine ~0.51), so the threshold is 0.35 — low
        enough that the DROP path is actually exercised by the gate
        (9 drops at sf0.01), not vacuously green."""
        emb = load_table(spark, "embeddings", sf_dir)
        return RV.semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35, dim=64
        )

    @register(
        "hybrid_rrf_retrieval",
        oracle=RV.rrf_hybrid_oracle_sql(
            "documents", "embeddings", "doc_id", "text", "vec_id",
            "embedding", anchor_id=0,
        ),
    )
    def hybrid_rrf_retrieval(spark, sf_dir):
        """Reciprocal-rank-fusion hybrid retrieval for "documents like
        doc 0": lexical top-50 (token overlap with the anchor) fused
        with semantic top-50 (cosine to the anchor embedding) at
        1/(60+rank) each. Both lists are TakeOrdered limits, so no
        corpus-wide single-partition window exists in the plan."""
        docs = load_table(spark, "documents", sf_dir)
        emb = load_table(spark, "embeddings", sf_dir)
        return RV.rrf_hybrid(
            docs, emb, "doc_id", "text", "vec_id", "embedding", anchor_id=0
        )


_install_retrieval_queries()


# =====================================================================
# Record linkage (operators/linkage.py): blocking + fuzzy verification
# =====================================================================

def _install_linkage_queries():
    from python_plugins_spark.operators import linkage as LK

    # Blocking design (the scale decision): customer names are a fixed
    # 9-digit zero-padded key behind a constant prefix. Splitting the
    # digits into thirds gives PIGEONHOLE-COMPLETE blocking for edit
    # distance <= 1: one edit damages at most one third, so two thirds
    # still match exactly — three passes, each an equi-join on
    # (nation, third_i, third_j), each block a handful of rows. The
    # first draft blocked on the 5-value market segment and produced
    # ~22M candidate pairs at sf0.1 (70 s of Levenshtein); this shape
    # produces thousands. Same recall guarantee, 3 orders cheaper.
    _AUG = (
        "(SELECT *, substr(c_name, 10, 3) AS nd1, substr(c_name, 13, 3) AS nd2, "
        "substr(c_name, 16, 3) AS nd3 FROM customer)"
    )
    _BLOCKS = [
        ["c_nationkey", "nd1", "nd2"],
        ["c_nationkey", "nd1", "nd3"],
        ["c_nationkey", "nd2", "nd3"],
    ]

    def _augmented(spark, sf_dir):
        c = load_table(spark, "customer", sf_dir)
        return c.withColumns(
            {
                "nd1": F.substring("c_name", 10, 3),
                "nd2": F.substring("c_name", 13, 3),
                "nd3": F.substring("c_name", 16, 3),
            }
        )

    @register(
        "fuzzy_match_customers",
        oracle=LK.fuzzy_pairs_oracle_sql(
            _AUG, "c_custkey", "c_name", _BLOCKS, max_dist=1
        ),
    )
    def fuzzy_match_customers(spark, sf_dir):
        """Entity-resolution candidate pairs: three pigeonhole blocking
        passes (nation + two of three name-digit thirds) union-deduped,
        then Levenshtein<=1 verification on candidates only — complete
        recall for same-nation single-edit matches with block sizes in
        the single digits (never an unblocked O(N^2) product)."""
        return LK.fuzzy_pairs(
            _augmented(spark, sf_dir), "c_custkey", "c_name", _BLOCKS, max_dist=1
        )

    @register(
        "entity_ids_customers",
        oracle=f"""
        WITH pairs AS ({LK.fuzzy_pairs_oracle_sql(
            _AUG, "c_custkey", "c_name", _BLOCKS, max_dist=1)}),
        best AS (SELECT id_b AS id, min(id_a) AS entity_id FROM pairs GROUP BY 1)
        SELECT c.c_custkey, coalesce(b.entity_id, c.c_custkey) AS entity_id
        FROM customer c LEFT JOIN best b ON c.c_custkey = b.id
        """,
    )
    def entity_ids_customers(spark, sf_dir):
        """Greedy one-hop canonicalization of the verified match pairs:
        each record adopts the smallest id it fuzzy-matches (full
        transitive closure is the neardup_clusters operator)."""
        c = _augmented(spark, sf_dir)
        pairs = LK.fuzzy_pairs(c, "c_custkey", "c_name", _BLOCKS, max_dist=1)
        return LK.resolve_entities(pairs, c, "c_custkey")


_install_linkage_queries()


# =====================================================================
# Format conversion (sources/convert.py): Iceberg <-> Delta, zero-copy
# =====================================================================

def _install_convert_queries():
    @register(
        "convert_iceberg_to_delta_read",
        oracle="""
        SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus
        """,
    )
    def convert_iceberg_to_delta_read(spark, sf_dir):
        """Zero-copy format migration: an Iceberg snapshot republished
        as Delta version 0 (hard-linked data files + one metadata
        commit — the public CONVERT TO DELTA shape), then read through
        the Delta layer and checked against the plain table."""
        import os
        import shutil

        from python_plugins_spark.sources.convert import convert_iceberg_to_delta
        from python_plugins_spark.sources.delta_py import read_delta
        from python_plugins_spark.sources.iceberg_py import write_iceberg

        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        tag = os.path.basename(sf_dir.rstrip("/"))
        ice = os.path.join(_SCRATCH, f"cvq_ice_{tag}")
        dlt = os.path.join(_SCRATCH, f"cvq_delta_{tag}")
        shutil.rmtree(ice, ignore_errors=True)
        shutil.rmtree(dlt, ignore_errors=True)
        write_iceberg(o, ice, mode="overwrite")
        convert_iceberg_to_delta(ice, dlt)
        back = read_delta(spark, dlt)
        return back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total")
        )

    @register(
        "convert_delta_to_iceberg_read",
        oracle="""
        SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY o_orderpriority
        """,
    )
    def convert_delta_to_iceberg_read(spark, sf_dir):
        """The reverse migration (Iceberg's snapshot/migrate shape):
        a Delta snapshot republished as Iceberg v1 metadata over
        hard-linked files, read through the Iceberg layer."""
        import os
        import shutil

        from python_plugins_spark.sources.convert import convert_delta_to_iceberg
        from python_plugins_spark.sources.delta_py import write_delta
        from python_plugins_spark.sources.iceberg_py import read_iceberg

        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        tag = os.path.basename(sf_dir.rstrip("/"))
        dlt = os.path.join(_SCRATCH, f"cvq_delta_src_{tag}")
        ice = os.path.join(_SCRATCH, f"cvq_ice_dst_{tag}")
        shutil.rmtree(dlt, ignore_errors=True)
        shutil.rmtree(ice, ignore_errors=True)
        write_delta(o, dlt, mode="overwrite")
        convert_delta_to_iceberg(dlt, ice)
        back = read_iceberg(spark, ice)
        return back.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )

    @register(
        "convert_mapped_delta_to_iceberg",
        oracle="""
        SELECT o_orderpriority AS priority, count(*) AS n,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY o_orderpriority
        """,
    )
    def convert_mapped_delta_to_iceberg(spark, sf_dir):
        """Column-MAPPED Delta converts to Iceberg (round 6): after a
        mapping upgrade and a rename, the data files store the old
        PHYSICAL column names — conversion threads delta's
        physicalName into the iceberg field's write-name (the same
        stable-physical-name mechanism iceberg's own id-based renames
        use), so the hard-linked files resolve unchanged and the read
        surfaces the renamed LOGICAL names. A wrong name mapping
        cannot hash-match the oracle."""
        import os
        import shutil

        import python_plugins_spark.sources.delta_py as dp
        from python_plugins_spark.sources.convert import convert_delta_to_iceberg
        from python_plugins_spark.sources.iceberg_py import read_iceberg

        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        tag = os.path.basename(sf_dir.rstrip("/"))
        dlt = os.path.join(_SCRATCH, f"cvq_mapped_src_{tag}")
        ice = os.path.join(_SCRATCH, f"cvq_mapped_dst_{tag}")
        shutil.rmtree(dlt, ignore_errors=True)
        shutil.rmtree(ice, ignore_errors=True)
        dp.write_delta(o, dlt, mode="overwrite")
        dp.enable_column_mapping(dlt)
        dp.rename_column(dlt, "o_orderpriority", "priority")
        convert_delta_to_iceberg(dlt, ice)
        back = read_iceberg(spark, ice)
        assert set(back.columns) == {"o_orderkey", "priority", "o_totalprice"}
        return back.groupBy("priority").agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )


_install_convert_queries()


# =====================================================================
# ML-prep suite: hashing-trick features, target encoding, k-anonymity
# =====================================================================

@register(
    "feature_hashing_docs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(str_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents
    )
    SELECT doc_id, {OF.sql_hash32('term')} % 256 AS bucket, count(*) AS n
    FROM tok GROUP BY 1, 2
    """,
)
def feature_hashing_docs(spark, sf_dir):
    """Hashing-trick featurization (public Weinberger et al. 2009):
    token -> md5-derived bucket in a fixed 256-dim space, counts per
    (doc, bucket). No vocabulary pass, no driver state — the property
    that makes the trick THE featurizer at corpus scale (a dictionary
    encoder needs a global vocab build + broadcast; this is one
    map-side-combined aggregate)."""
    from python_plugins_spark.functions import hash32, tokens as _tokens

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    return tok.select(
        "doc_id", (hash32(F.col("term")) % 256).alias("bucket")
    ).groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))


@register(
    "target_encoding_priority",
    oracle="""
    WITH g AS (SELECT avg(o_totalprice) AS gm FROM orders)
    SELECT o_orderpriority, count(*) AS n,
           round((sum(o_totalprice) + 10.0 * g.gm) / (count(*) + 10.0), 4) AS encoded
    FROM orders CROSS JOIN g
    GROUP BY o_orderpriority, g.gm
    """,
)
def target_encoding_priority(spark, sf_dir):
    """Smoothed target (mean) encoding — the categorical-feature
    workhorse: encoded = (sum_y + m*global_mean)/(n + m), m=10. The
    global mean arrives as a broadcast one-row relation, so the whole
    encoding is one hash aggregate + a map-side join; the category
    table it produces is broadcastable back onto the fact table."""
    o = load_table(spark, "orders", sf_dir)
    gm = o.agg(F.avg("o_totalprice").alias("gm"))
    return (
        o.crossJoin(F.broadcast(gm))
        .groupBy("o_orderpriority", "gm")
        .agg(
            F.count("*").alias("n"),
            F.round(
                (F.sum("o_totalprice") + 10.0 * F.first("gm")) / (F.count("*") + 10.0),
                4,
            ).alias("encoded"),
        )
        .select("o_orderpriority", "n", "encoded")
    )


@register(
    "k_anonymity_audit",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             count(*) AS class_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT class_size, count(*) AS n_classes,
           sum(class_size) AS n_records
    FROM classes GROUP BY class_size
    """,
)
def k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers (nation, segment,
    account-balance bucket): the histogram of equivalence-class sizes.
    Rows in classes of size < k are re-identification risks a privacy
    review gates on before a dataset release; the audit is two hash
    aggregates, no joins."""
    c = load_table(spark, "customer", sf_dir)
    classes = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count("*").alias("class_size"))
    )
    return classes.groupBy("class_size").agg(
        F.count("*").alias("n_classes"),
        F.sum("class_size").alias("n_records"),
    )


# =====================================================================
# Streaming online dedup: state across micro-batches in a Delta table
# =====================================================================

@register(
    "streaming_online_dedup",
    oracle=D.dedup_exact_oracle_sql(
        "documents", ["text"], "doc_id", "doc_id, lang, source"
    ),
)
def streaming_online_dedup(spark, sf_dir):
    """Online corpus dedup — the streaming form of the ingest-time
    dedup every training-data pipeline runs: documents arrive in
    micro-batches, each batch is deduped within itself (min doc_id per
    content fingerprint) AND against the fingerprints of everything
    already accepted, and survivors append atomically to a Delta
    table that doubles as the dedup state. Batches are arrival-ordered
    (file mtimes), and waves are id-ranged so first-arrival == min-id,
    making the online result equal to the batch oracle. At scale the
    anti-join runs fingerprint-vs-fingerprint (two narrow columns) and
    the state table is just the survivor set — no extra state store.
    (Cross-batch removal on data with REAL cross-wave duplicates is
    exercised by tests/test_streaming.py::test_online_dedup_cross_batch.)"""
    import os

    from python_plugins_spark.streaming.ops import online_exact_dedup

    docs = load_table(spark, "documents", sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    return online_exact_dedup(
        spark, docs, "doc_id", "text", ["doc_id", "lang", "source"],
        os.path.join(_SCRATCH, f"online_dedup_{tag}"),
    )


# =====================================================================
# Persisted ANN index: build once into Delta, search many
# =====================================================================

@register(
    "ann_lsh_index_persisted",
    oracle=S.lsh_index_search_oracle_sql(
        "embeddings", "vec_id", "embedding", k=3, n_planes=8, dim=64
    ),
)
def ann_lsh_index_persisted(spark, sf_dir):
    """Build-once/search-many ANN: the (id, bucket, vector) LSH index
    is persisted as a Delta table, then every embedding queries it —
    bucket equi-join candidates, exact cosine re-rank, top-3. The
    search never touches the raw corpus; rebuilds are index-table
    overwrites (ACID swap). Deterministic planes make it oracle-
    checkable, unlike IVF."""
    import os
    import shutil

    emb = load_table(spark, "embeddings", sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = os.path.join(_SCRATCH, f"lsh_index_{tag}")
    shutil.rmtree(idx, ignore_errors=True)
    S.build_lsh_index(emb, idx, "vec_id", "embedding", n_planes=8, dim=64)
    return S.search_lsh_index(
        spark, idx, emb, "vec_id", "embedding", k=3, n_planes=8, dim=64
    )


@register("ann_ivf_index_persisted")  # rows-only: trained floats
def ann_ivf_index_persisted(spark, sf_dir):
    """Build-once/search-many TRAINED IVF (operators/similarity.py
    build_ivf_index/search_ivf_index) — the centroid twin of the LSH
    index and the production serving shape of round 10's trained-IVF
    work: spherical-k-means centroids + per-vector assignments persist
    as Delta tables ONCE; each search assigns queries their nprobe
    nearest centroids in one Arrow pass and BLAS-scores only the
    probed buckets via the centroid-id cogroup — no re-training, no
    corpus re-scan, no assignment pass at query time. No SQL oracle
    (k-means centroid floats depend on distributed summation order —
    approximate by design like ann_topk_ivf); recall floor vs exact
    search pinned in test_ivf_index_persisted_recall."""
    import os
    import shutil

    emb = load_table(spark, "embeddings", sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = os.path.join(_SCRATCH, f"ivf_index_{tag}")
    shutil.rmtree(idx, ignore_errors=True)
    S.build_ivf_index(emb, idx, "vec_id", "embedding", n_centroids=16)
    return S.search_ivf_index(
        spark, idx, emb, "vec_id", "embedding", k=5, nprobe=4
    )


@register("ann_topk_ivf_sq8")  # rows-only: trained floats
def ann_topk_ivf_sq8(spark, sf_dir):
    """The faiss 'IVF..,SQ8' composition — trained-centroid
    partitioning over PACKED 1-byte-per-dim codes, the standard shape
    when a 100 TB embedding corpus must serve from RAM: the persisted
    index stores dim-byte blobs + a 1-row extrema table; searches
    probe nprobe buckets and dequantize inside the cogroup
    (asymmetric scoring, one BLAS matmul per bucket). Composes both
    round-10 serving pieces (ivf_train_centroids x packed SQ8). No
    SQL oracle (trained floats, like the IVF family); recall floor vs
    exact search pinned in test_ivf_sq8_index_recall."""
    import os
    import shutil

    emb = load_table(spark, "embeddings", sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = os.path.join(_SCRATCH, f"ivf_sq8_index_{tag}")
    shutil.rmtree(idx, ignore_errors=True)
    S.build_ivf_index(emb, idx, "vec_id", "embedding", n_centroids=16, sq8=True)
    return S.search_ivf_index(
        spark, idx, emb, "vec_id", "embedding", k=5, nprobe=4, sq8=True
    )



@register(
    "delta_check_constraint_gate",
    oracle="""
    SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_totalprice > 0
    """,
)
def delta_check_constraint_gate(spark, sf_dir):
    """Delta CHECK constraints (protocol 'delta.constraints.*' keys):
    ALTER ADD verifies existing rows with one aggregate; every later
    write enforces the predicate via an observation riding the staging
    write (zero extra passes), rejecting violating batches atomically.
    Here a violating append bounces off the gate and the table's
    contents provably still satisfy the constraint."""
    import os
    import shutil

    from python_plugins_spark.sources.delta_py import (
        DeltaConstraintViolationError, add_check_constraint, read_delta,
        write_delta,
    )

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    tag = os.path.basename(sf_dir.rstrip("/"))
    p = os.path.join(_SCRATCH, f"ck_gate_{tag}")
    shutil.rmtree(p, ignore_errors=True)
    write_delta(o.filter(F.col("o_totalprice") > 0), p, mode="overwrite")
    add_check_constraint(spark, p, "price_pos", "o_totalprice > 0")
    try:
        write_delta(
            o.limit(100).select("o_orderkey", (-F.col("o_totalprice")).alias("o_totalprice")),
            p, mode="append",
        )
        raise AssertionError("constraint gate did not fire")
    except DeltaConstraintViolationError:
        pass
    back = read_delta(spark, p)
    return back.agg(
        F.count("*").alias("n"), F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total")
    )


@register(
    "recursive_cte_amortization",
    oracle="""
    WITH RECURSIVE am(o_orderkey, p, bal_u, pay_u) AS (
      SELECT o_orderkey, 0,
             CAST(round(o_totalprice * 1000000, 0) AS BIGINT),
             (CAST(round(o_totalprice * 1000000, 0) AS BIGINT) * 53 + 600) // 1200
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey, p + 1, (bal_u * 1005 + 500) // 1000 - pay_u, pay_u
      FROM am WHERE p < 24 AND bal_u > 0
    )
    SELECT o_orderkey, max(p) AS periods,
           round(min(bal_u) / 1000000.0, 6) AS final_bal
    FROM am GROUP BY o_orderkey
    """,
)
def recursive_cte_amortization(spark, sf_dir):
    """WITH RECURSIVE (Spark 4 recursive CTEs): a 24-period
    amortization schedule — per-row state recurrence (balance
    compounds 0.5%/period, fixed payment subtracts, stop on payoff)
    that plain relational algebra cannot express without loop
    unrolling. Linear recursion: each step maps the previous step's
    rows 1:1, so depth bounds the work (rows x 25, no path explosion;
    Spark's UNION ALL recursion is safe here). The recurrence runs in
    exact integer micro-units (half-up via (n*1005+500) div 1000), so
    there is no per-step float rounding to diverge between engines —
    the float-tie lesson from the first draft of this query. The
    balance strictly decreases, so min(bal) is the final balance."""
    o = load_table(spark, "orders", sf_dir)
    view = "orders_rcte_v"
    o.createOrReplaceTempView(view)
    return spark.sql(f"""
      WITH RECURSIVE am(o_orderkey, p, bal_u, pay_u) AS (
        SELECT o_orderkey, 0,
               CAST(round(o_totalprice * 1000000, 0) AS BIGINT),
               (CAST(round(o_totalprice * 1000000, 0) AS BIGINT) * 53 + 600) DIV 1200
        FROM {view} WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey, p + 1, (bal_u * 1005 + 500) DIV 1000 - pay_u, pay_u
        FROM am WHERE p < 24 AND bal_u > 0
      )
      SELECT o_orderkey, max(p) AS periods,
             round(min(bal_u) / CAST(1000000 AS DOUBLE), 6) AS final_bal
      FROM am GROUP BY o_orderkey
    """)


@register(
    "wrangler_recipe_customers",
    oracle="""
    SELECT c_custkey AS cust_id, upper(c_mktsegment) AS segment,
           concat(substr(c_name, 1, length(c_name) - 4), '****') AS c_name,
           CAST(trunc(c_acctbal) AS BIGINT) AS bal_int,
           CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'normal' END AS tier
    FROM customer WHERE c_nationkey < 10
    """,
)
def wrangler_recipe_customers(spark, sf_dir):
    """Directive-recipe data prep (operators/wrangler.py): six steps —
    filter, rename, uppercase, mask-last-n, set-type, set-column —
    compile into ONE Catalyst plan (no UDFs, no per-step
    materialization), so pushdown/pruning/codegen see through the
    whole recipe. The deploy-time-validation stance matches the
    transform operator: an unknown directive fails at compile."""
    from python_plugins_spark.operators.wrangler import wrangle

    c = load_table(spark, "customer", sf_dir)
    recipe = """
    # analyst-style prep recipe
    filter-rows-on "c_nationkey < 10"
    rename c_custkey cust_id
    uppercase c_mktsegment
    mask-last-n c_name 4
    set-column bal_int "CAST(c_acctbal AS BIGINT)"
    set-column tier "CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'normal' END"
    keep cust_id c_mktsegment c_name bal_int tier
    rename c_mktsegment segment
    """
    return wrangle(c, recipe)


@register(
    "stream_stream_left_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS p_user,
           c.event_id AS click_id
    FROM events p
    LEFT JOIN events c
      ON c.event_type = 'click' AND c.user_id = p.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def stream_stream_left_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join — the watermark-emission case the
    inner join never exercises: a purchase with no click in the
    preceding 10 min must still emit (with nulls), which Spark only
    does once the GLOBAL watermark passes the row's join window. A
    sentinel second micro-batch (one far-future row per side, filtered
    back out) advances both sides' watermarks so every unmatched row
    flushes; without it the one-batch drain would silently degrade to
    an inner join. State stays bounded by the same watermark that
    gates emission."""
    import os
    import shutil
    import time as _time
    import uuid

    from python_plugins_spark.sources.io import ensure_session_confs
    from python_plugins_spark.streaming import run_to_memory_sink

    ensure_session_confs(spark)
    ev = load_table(spark, "events", sf_dir)
    max_ts = ev.agg(F.max("ts")).first()[0]
    tag = os.path.basename(sf_dir.rstrip("/"))
    waves = os.path.join(_SCRATCH, f"ssoj_waves_{tag}")
    shutil.rmtree(waves, ignore_errors=True)
    os.makedirs(waves)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    base = ev.select(*cols)
    tmp = os.path.join(_SCRATCH, f"ssoj_tmp_{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    base.coalesce(1).write.mode("overwrite").parquet(tmp)
    now = _time.time()
    i = 0
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            dst = os.path.join(waves, f"wave0_{i}.parquet")
            os.replace(os.path.join(tmp, f), dst)
            os.utime(dst, (now, now))
            i += 1
    shutil.rmtree(tmp, ignore_errors=True)
    # sentinel wave: one far-future row per side, ids < 0, so both
    # streams' watermarks advance past every real join window
    import datetime as _dt

    far = max_ts + _dt.timedelta(hours=2)
    sent = spark.createDataFrame(
        [(-1, far, -1, "purchase", 0.0, "{}"), (-2, far, -2, "click", 0.0, "{}")],
        base.schema,
    )
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(waves, "wave1.parquet")
    os.replace(os.path.join(tmp, part), dst)
    os.utime(dst, (now + 20, now + 20))
    shutil.rmtree(tmp, ignore_errors=True)

    def stream():
        return (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(waves)
        )

    purchases = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "p_user", "click_id")
    name = f"ssoj_{uuid.uuid4().hex[:8]}"
    out = run_to_memory_sink(joined, name, output_mode="append", state_partitions=4)
    return out.filter(F.col("p_user") >= 0)


@register(
    "iceberg_stream_source_read",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_stream_source_read(spark, sf_dir):
    """Iceberg table as a STREAMING SOURCE (sources/iceberg_stream.py
    — format twin of the Delta streaming source): offsets are snapshot
    ids, micro-batch planning opens each snapshot's own immutable
    metadata and keeps only manifests added by that snapshot, and each
    added data file becomes one executor-side pyarrow task. Two append
    snapshots land first; the drained memory-sink table must equal the
    batch aggregate."""
    import os
    import shutil
    import uuid

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import write_iceberg
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    iceberg_stream.register(spark)
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(
        _SCRATCH, f"istream_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(table, ignore_errors=True)
    write_iceberg(o.filter(F.col("o_orderkey") % 2 == 0), table, mode="overwrite")
    write_iceberg(o.filter(F.col("o_orderkey") % 2 == 1), table, mode="append")

    stream = (
        spark.readStream.format("iceberg_py_stream").option("path", table).load()
    )
    name = f"istream_{uuid.uuid4().hex[:8]}"
    # Aggregate INSIDE the stream: state lives in the (distributed)
    # state store and the complete-mode memory table holds only the
    # grouped rows — never the raw stream (a driver-OOM at scale).
    agg = stream.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )
    from python_plugins_spark.streaming.ops import run_to_memory_sink

    return run_to_memory_sink(agg, name, output_mode="complete", state_partitions=8)


@register(
    "iceberg_stream_cdc_read",
    oracle="""
    SELECT 'insert' AS _change_type, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    UNION ALL
    SELECT 'delete', count(*), CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def iceberg_stream_cdc_read(spark, sf_dir):
    """Streaming CDC over an Iceberg table (iceberg_py_stream with
    readChangeFeed): the append snapshot streams as 'insert' rows, the
    position-delete snapshot streams the DELETED ROWS' VALUES as
    'delete' rows — planned from immutable snapshot metadata, read
    executor-side. Aggregated by change type against the batch
    oracle."""
    import os
    import shutil
    import uuid

    from python_plugins_spark.sources import iceberg_stream
    from python_plugins_spark.sources.iceberg_py import (
        delete_iceberg, write_iceberg,
    )
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    iceberg_stream.register(spark)
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(
        _SCRATCH, f"icdc_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(table, ignore_errors=True)
    write_iceberg(o, table, mode="overwrite")
    delete_iceberg(spark, table, "o_orderstatus = 'F'")

    stream = (
        spark.readStream.format("iceberg_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
    )
    name = f"icdc_{uuid.uuid4().hex[:8]}"
    # In-stream aggregation; the memory table holds one row per change
    # type, not the raw change feed (see iceberg_stream_source_read).
    agg = stream.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )
    from python_plugins_spark.streaming.ops import run_to_memory_sink

    return run_to_memory_sink(agg, name, output_mode="complete", state_partitions=8)


@register(
    "interleaved_multimodal_docs",
    oracle="""
    SELECT doc_id, 0 AS seq_no, 'text' AS kind,
           md5(substr(text, 1, CAST(floor(length(text) / 2) AS INT))) AS payload_ref
    FROM documents
    UNION ALL
    SELECT doc_id, 1, 'image', md5('img-' || doc_id) FROM documents
    UNION ALL
    SELECT doc_id, 2, 'text',
           md5(substr(text, CAST(floor(length(text) / 2) AS INT) + 1, length(text)))
    FROM documents
    """,
)
def interleaved_multimodal_docs(spark, sf_dir):
    """Interleaved multimodal sequence construction (the MMC4/OBELICS
    public recipe shape): each document becomes an ordered sequence of
    typed segments — text chunk, image slot, text chunk — flattened to
    (doc_id, seq_no, kind, payload_ref) rows so position and type
    survive the shuffle and the downstream packer can reassemble
    deterministically. Payloads are content-addressed (md5 refs) — the
    binary image bytes live in the multimodal suite's BinaryType
    plumbing; here the JOIN-KEY layer is what's exercised. Pure
    expressions, one projection per segment kind, no UDFs."""
    docs = load_table(spark, "documents", sf_dir)
    half = F.floor(F.length("text") / 2).cast("int")
    text_col = F.col("text")
    t0 = docs.select(
        "doc_id",
        F.lit(0).cast("int").alias("seq_no"),
        F.lit("text").alias("kind"),
        F.md5(text_col.substr(F.lit(1), half)).alias("payload_ref"),
    )
    t1 = docs.select(
        "doc_id",
        F.lit(1).cast("int").alias("seq_no"),
        F.lit("image").alias("kind"),
        F.md5(F.concat(F.lit("img-"), F.col("doc_id").cast("string"))).alias(
            "payload_ref"
        ),
    )
    t2 = docs.select(
        "doc_id",
        F.lit(2).cast("int").alias("seq_no"),
        F.lit("text").alias("kind"),
        F.md5(text_col.substr(half + 1, F.length("text"))).alias("payload_ref"),
    )
    return t0.unionByName(t1).unionByName(t2)


@register(
    "delta_cdc_stream_partitioned_read",
    oracle="""
    SELECT 'insert' AS _change_type, o_orderpriority, count(*) AS n
    FROM orders GROUP BY 2
    UNION ALL
    SELECT 'delete', o_orderpriority, count(*)
    FROM orders WHERE o_orderkey % 10 = 0 GROUP BY 2
    """,
)
def delta_cdc_stream_partitioned_read(spark, sf_dir):
    """CDC stream over a hive-PARTITIONED Delta table: inserts and
    deletion-vector deletes emit with the partition column reattached
    executor-side (data files omit it per the protocol). Aggregated by
    change type and partition value against the batch oracle — so the
    gate checks the reassembled partition values, not just row
    counts."""
    import os
    import shutil
    import uuid

    from python_plugins_spark.sources import delta_stream
    from python_plugins_spark.sources.delta_py import delete_delta, write_delta
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    delta_stream.register(spark)
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    table = os.path.join(
        _SCRATCH, f"cdcp_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(table, ignore_errors=True)
    write_delta(o, table, mode="overwrite", partition_by=["o_orderpriority"])
    delete_delta(spark, table, "o_orderkey % 10 = 0", mode="dv")

    stream = (
        spark.readStream.format("delta_py_stream")
        .option("path", table)
        .option("readChangeFeed", "true")
        .load()
    )
    name = f"cdcp_{uuid.uuid4().hex[:8]}"
    # In-stream aggregation; memory table holds |types| x |priorities|
    # grouped rows only (see iceberg_stream_source_read).
    agg = stream.groupBy("_change_type", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    from python_plugins_spark.streaming.ops import run_to_memory_sink

    return run_to_memory_sink(agg, name, output_mode="complete", state_partitions=8)


@register(
    "pipeline_spec_end_to_end",
    oracle="""
    WITH ev AS (
      SELECT o_orderpriority, o_totalprice * 0.1 AS fee
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(fee AS DECIMAL(18,6))) AS DOUBLE) AS total_fee
    FROM ev GROUP BY o_orderpriority
    """,
)
def pipeline_spec_end_to_end(spark, sf_dir):
    """The host-platform surface the reference plugin lived inside: a
    JSON pipeline document (source -> filter -> PythonEvaluator-shaped
    transform -> groupBy aggregator -> sink) interpreted by
    python_plugins_spark.pipeline.run_pipeline. The whole DAG compiles
    to one Catalyst plan per sink; the python stage uses the
    reference's exact config keys (script/schema). A reference user's
    pipeline definition ports by renaming stage types."""
    import os
    import shutil

    from python_plugins_spark.pipeline import run_pipeline
    from python_plugins_spark.sources.delta_py import read_delta

    tag = os.path.basename(sf_dir.rstrip("/"))
    sink = os.path.join(_SCRATCH, f"pipe_sink_{tag}")
    shutil.rmtree(sink, ignore_errors=True)
    spec = {
        "stages": [
            {"name": "orders", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "open_only", "type": "transform.filter",
             "config": {"condition": "o_orderstatus = 'O'"}},
            {"name": "fee_eval", "type": "transform.python",
             "config": {
                 "script": (
                     "def transform(record, emitter, context):\n"
                     "    emitter.emit({'o_orderpriority': record['o_orderpriority'],\n"
                     "                  'fee': record['o_totalprice'] * 0.1})\n"
                 ),
                 "schema": "o_orderpriority string, fee double",
             }},
            {"name": "by_priority", "type": "batchaggregator.groupby",
             "config": {
                 "groupByFields": ["o_orderpriority"],
                 "aggregates": [
                     {"name": "n", "function": "count", "field": "*"},
                     {"name": "fee_dec", "function": "sum", "field": "fee_dec"},
                 ],
             }},
            {"name": "sink", "type": "batchsink.delta",
             "config": {"path": sink}},
        ],
        "connections": [
            {"from": "orders", "to": "open_only"},
            {"from": "open_only", "to": "fee_eval"},
            {"from": "fee_eval", "to": "cast_fee"},
            {"from": "cast_fee", "to": "by_priority"},
            {"from": "by_priority", "to": "sink"},
        ],
    }
    # exact-decimal convention for the whole-table-magnitude sum
    spec["stages"].insert(3, {
        "name": "cast_fee", "type": "transform.wrangler",
        "config": {"directives": ['set-column fee_dec "CAST(fee AS DECIMAL(18,6))"']},
    })
    run_pipeline(spark, spec)
    back = read_delta(spark, sink)
    return back.select(
        "o_orderpriority", "n", F.col("fee_dec").cast("double").alias("total_fee")
    )


@register(
    "pipeline_router_ports",
    oracle="""
    SELECT 'rich' AS port, count(*) AS n FROM customer WHERE c_acctbal >= 5000
    UNION ALL
    SELECT 'debt', count(*) FROM customer WHERE c_acctbal < 0
    UNION ALL
    SELECT 'default', count(*) FROM customer
    WHERE NOT (c_acctbal >= 5000) AND NOT (c_acctbal < 0)
    """,
)
def pipeline_router_ports(spark, sf_dir):
    """Router stage under the oracle gate: a pipeline document splits
    customers across named ports (first-match-wins; unmatched ->
    'default'), and the per-port cardinalities must equal the batch
    predicates. Ports wire downstream via port-qualified connections
    ('route.rich'), the multi-output shape the reference's error port
    pioneered."""
    from python_plugins_spark.pipeline import run_pipeline

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"name": "route", "type": "transform.router",
             "config": {"ports": [
                 {"port": "rich", "condition": "c_acctbal >= 5000"},
                 {"port": "debt", "condition": "c_acctbal < 0"},
             ]}},
        ],
        "connections": [{"from": "src", "to": "route"}],
    })
    parts = [
        frames["route.rich"].select(F.lit("rich").alias("port")),
        frames["route.debt"].select(F.lit("debt").alias("port")),
        frames["route.default"].select(F.lit("default").alias("port")),
    ]
    from functools import reduce

    allp = reduce(lambda a, b: a.unionByName(b), parts)
    return allp.groupBy("port").agg(F.count("*").alias("n"))


@register(
    "pipeline_streaming_end_to_end",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 minutes, ts), '{_STRF}') AS window_start,
           count(*) AS n,
           round(sum(value * 2), 4) AS total_doubled
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def pipeline_streaming_end_to_end(spark, sf_dir):
    """The reference's OTHER deployment surface: the same pipeline
    document interpreted as a STREAMING pipeline (pom.xml:134-137
    declares the plugin deployable under cdap-data-streams unchanged).
    streamingsource.file -> the PythonEvaluator-shaped python stage
    (filter + computed column, identical config keys) ->
    streamingaggregator.windowed_groupby -> streamingsink.memory,
    drained synchronously and verified against the batch oracle — the
    batch/streaming duality, through the pipeline runner itself."""
    import uuid

    from python_plugins_spark.pipeline import run_pipeline
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    qname = f"pipe_stream_{uuid.uuid4().hex[:8]}"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "ev", "type": "transform.python",
             "config": {
                 "script": (
                     "def transform(record, emitter, context):\n"
                     "    if record['event_type'] == 'purchase':\n"
                     "        emitter.emit({'ts': record['ts'],\n"
                     "                      'doubled': record['value'] * 2})\n"
                 ),
                 "schema": "ts timestamp, doubled double",
             }},
            {"name": "agg", "type": "streamingaggregator.windowed_groupby",
             "config": {
                 "eventTime": "ts", "windowDuration": "5 minutes",
                 "groupByFields": [],
                 "aggregates": [
                     {"name": "n", "function": "count", "field": "*"},
                     {"name": "total", "function": "sum", "field": "doubled"},
                 ],
             }},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": qname, "outputMode": "complete",
                        "statePartitions": 8}},
        ],
        "connections": [
            {"from": "src", "to": "ev"},
            {"from": "ev", "to": "agg"},
            {"from": "agg", "to": "sink"},
        ],
    })
    return frames["sink"].select(
        _ts(F.col("window_start")).alias("window_start"),
        "n",
        F.round("total", 4).alias("total_doubled"),
    )


@register(
    "pipeline_stateful_running_total",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
)
def pipeline_stateful_running_total(spark, sf_dir):
    """Keyed state from a pipeline DOCUMENT (r5 verdict stretch): the
    streamingtransform.stateful stage exposes the engine's custom
    stateful operators (applyInPandasWithState running count+sum here)
    to ported streaming pipelines — per-key state lives in the
    (distributed) state store, the update-mode memory sink holds one
    row per key per batch, and the LAST row per key equals the batch
    aggregate the oracle computes."""
    import uuid

    from python_plugins_spark.pipeline import run_pipeline
    from python_plugins_spark.sources.io import ensure_session_confs

    ensure_session_confs(spark)
    qname = f"pipe_state_{uuid.uuid4().hex[:8]}"
    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "streamingsource.file",
             "config": {"path": f"{sf_dir}/events.parquet"}},
            {"name": "state", "type": "streamingtransform.stateful",
             "config": {"operation": "running_agg",
                        "keys": ["event_type"], "valueField": "value"}},
            {"name": "sink", "type": "streamingsink.memory",
             "config": {"queryName": qname, "outputMode": "update",
                        "statePartitions": 8}},
        ],
        "connections": [
            {"from": "src", "to": "state"},
            {"from": "state", "to": "sink"},
        ],
    })
    out = frames["sink"]
    w = Window.partitionBy("event_type").orderBy(
        F.col("running_count").desc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("running_count").alias("n"),
            F.round("running_sum", 4).alias("total_value"),
        )
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH t AS (
      SELECT lang,
             len(str_split_regex(lower(trim(text)), '\\s+')) AS n_words,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           sum(n_words) AS words, sum(n_tokens) AS tokens,
           round(sum(n_tokens)::DOUBLE / sum(n_words), 6) AS fertility
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility (tokens per whitespace word) by language —
    the vocabulary-fit diagnostic multilingual-corpus builders track
    (a language with high fertility is under-served by the tokenizer
    and over-billed in the token budget). BPE-ish regex token count
    over one projection pass; two map-side-combined aggregates."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n_words"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("n_tokens"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
    )


@register(
    "temperature_sampling_allocation",
    oracle="""
    WITH avail AS (
      SELECT source,
             sum(len(str_split_regex(lower(trim(text)), '\\s+'))) AS tokens
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT source, tokens, pow(tokens, 0.5) AS w FROM avail
    ),
    tot AS (SELECT sum(tokens) AS all_tokens, sum(w) AS all_w FROM scored)
    SELECT s.source, s.tokens AS available,
           CAST(floor(0.5 * t.all_tokens * s.w / t.all_w) AS BIGINT) AS allocated,
           round(CAST(floor(0.5 * t.all_tokens * s.w / t.all_w) AS BIGINT)
                 / s.tokens::DOUBLE, 6) AS epochs
    FROM scored s CROSS JOIN tot t
    """,
)
def temperature_sampling_allocation(spark, sf_dir):
    """Temperature-based mixture allocation (the public alpha=0.5
    sampling heuristic from multilingual pretraining): each source's
    share of a token budget (here 50% of the corpus) is proportional
    to tokens^alpha, up-weighting small sources without letting big
    ones dominate. The per-source token table is tiny and the corpus
    totals arrive as a broadcast one-row relation; `epochs` > 1 flags
    a source the budget would repeat. Floor in integer tokens keeps
    both engines' discrete allocations identical."""
    docs = load_table(spark, "documents", sf_dir)
    avail = (
        docs.select(
            "source",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("tokens"))
    )
    scored = avail.withColumn("w", F.pow(F.col("tokens"), 0.5))
    tot = scored.agg(
        F.sum("tokens").alias("all_tokens"), F.sum("w").alias("all_w")
    )
    out = scored.crossJoin(F.broadcast(tot))
    alloc = F.floor(
        0.5 * F.col("all_tokens") * F.col("w") / F.col("all_w")
    ).cast("long")
    return out.select(
        "source",
        F.col("tokens").alias("available"),
        alloc.alias("allocated"),
        F.round(alloc / F.col("tokens").cast("double"), 6).alias("epochs"),
    )


# =====================================================================
# Real multimodal decode (round 4): WAV / BMP / PPM need no external
# codec libraries, so for these formats the decode path is REAL — the
# features come from the actual decoded samples/pixels, and the
# oracles recompute the identical statistics from the generating
# integer formulas, fully independently of the byte-level codecs.
# =====================================================================

@register(
    "multimodal_wav_rms_real",
    oracle="""
    WITH s AS (
      SELECT d.doc_id,
             ((d.doc_id * 2654435761 + t.i * 40503) % 24001) - 12000 AS v
      FROM documents d CROSS JOIN generate_series(0, 2047) t(i)
    )
    SELECT doc_id, 1 AS n_channels, 8000 AS sample_rate,
           2048 AS n_frames,
           sum(v * v) AS sum_sq, max(abs(v)) AS peak,
           round(sqrt(sum(v * v) / 2048.0), 4) AS rms
    FROM s GROUP BY doc_id
    """,
)
def multimodal_wav_rms_real(spark, sf_dir):
    """REAL audio decode: per-document PCM16 WAV payloads (stdlib
    ``wave`` encoder, deterministic integer signal) parsed by the
    hand-rolled RIFF/fmt/data chunk walker
    (operators/multimodal.py:parse_wav), frame statistics computed
    from the decoded samples. The oracle recomputes sum-of-squares /
    peak / RMS from the signal's integer formula with no WAV bytes in
    sight — a wrong byte order, sample width, or chunk offset in the
    decoder cannot hash-match. Closes the round-3 gap where every
    multimodal decode result was synthetic."""
    docs = load_table(spark, "documents", sf_dir)
    wavs = MM.synth_wav_payloads(docs, "doc_id")
    feats = MM.decode_wav_features(wavs, "payload", "doc_id")
    return feats.select(
        "doc_id", "n_channels", "sample_rate", "n_frames", "sum_sq", "peak",
        F.round(F.sqrt(F.col("sum_sq") / F.lit(2048.0)), 4).alias("rms"),
    )


@register(
    "image_bmp_patch_real",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 9 + 13 * gx.x + gy.y) % 256 AS r,
             (d.doc_id * 5 + gx.x + 11 * gy.y) % 256 AS g,
             (d.doc_id + 3 * gx.x + 7 * gy.y) % 256 AS b
      FROM documents d
      CROSS JOIN generate_series(0, 12) gx(x)
      CROSS JOIN generate_series(0, 11) gy(y)
    )
    SELECT doc_id, 13 AS width, 12 AS height,
           sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b,
           round(sum(r + g + b) / (3.0 * 13 * 12 * 255), 6) AS brightness
    FROM px GROUP BY doc_id
    """,
)
def image_bmp_patch_real(spark, sf_dir):
    """REAL image decode: per-document 24bpp BMP payloads (hand-rolled
    encoder: bottom-up rows, BGR order, width 13 so every row carries
    pad bytes) decoded by operators/multimodal.py:parse_bmp, exact
    per-channel pixel sums from the decoded array. The oracle
    recomputes the sums from the pixel-value formulas — any padding,
    row-order, or channel-order mistake in the decoder shifts bytes
    between channels/rows and cannot hash-match."""
    docs = load_table(spark, "documents", sf_dir)
    bmps = MM.synth_image_payloads(docs, "doc_id", width=13, height=12, fmt="bmp")
    stats = MM.decode_image_stats(bmps, "payload", "doc_id")
    return stats.select(
        "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
        F.round(
            (F.col("sum_r") + F.col("sum_g") + F.col("sum_b"))
            / F.lit(3.0 * 13 * 12 * 255),
            6,
        ).alias("brightness"),
    )


@register(
    "image_ppm_decode_real",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 9 + 13 * gx.x + gy.y) % 256 AS r,
             (d.doc_id * 5 + gx.x + 11 * gy.y) % 256 AS g,
             (d.doc_id + 3 * gx.x + 7 * gy.y) % 256 AS b
      FROM documents d
      CROSS JOIN generate_series(0, 12) gx(x)
      CROSS JOIN generate_series(0, 11) gy(y)
    )
    SELECT doc_id, 13 AS width, 12 AS height,
           sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def image_ppm_decode_real(spark, sf_dir):
    """P6 PPM twin of image_bmp_patch_real (same pixel formulas,
    different wire format: ASCII header + raw top-down RGB). The two
    queries must agree with the SAME oracle sums — so the BMP and PPM
    decoders cross-validate each other byte-for-byte."""
    docs = load_table(spark, "documents", sf_dir)
    ppms = MM.synth_image_payloads(docs, "doc_id", width=13, height=12, fmt="ppm")
    return MM.decode_image_stats(ppms, "payload", "doc_id")


@register(
    "image_png_roundtrip_real",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 9 + 13 * gx.x + gy.y) % 256 AS r,
             (d.doc_id * 5 + gx.x + 11 * gy.y) % 256 AS g,
             (d.doc_id + 3 * gx.x + 7 * gy.y) % 256 AS b
      FROM documents d
      CROSS JOIN generate_series(0, 12) gx(x)
      CROSS JOIN generate_series(0, 11) gy(y)
    )
    SELECT doc_id, 13 AS width, 12 AS height,
           sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def image_png_roundtrip_real(spark, sf_dir):
    """REAL PNG: per-document RGB payloads from the pure-stdlib
    encoder (operators/png.py — zlib scanline stream, CRC-framed
    chunks, PAETH filter on every row so decode runs the hardest
    de-filter path), decoded by the full parser (CRC verification,
    IDAT concat, all five filter types). PNG is lossless, so the
    EXACT per-channel sums must equal the BMP/PPM queries' shared
    generator-formula oracle — three wire formats cross-validated by
    one SQL statement. Plan: id fan-out exchange (8 bytes/row), then
    narrow codec maps — payloads never shuffle (plan-pinned)."""
    from python_plugins_spark.operators import png as PNG

    docs = load_table(spark, "documents", sf_dir)
    enc = PNG.synth_png_payloads(docs, "doc_id", width=13, height=12, filter_type=4)
    return PNG.decode_png_stats(enc, "doc_id", "payload")


@register(
    "image_tiff_roundtrip_real",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 9 + 13 * gx.x + gy.y) % 256 AS r,
             (d.doc_id * 5 + gx.x + 11 * gy.y) % 256 AS g,
             (d.doc_id + 3 * gx.x + 7 * gy.y) % 256 AS b
      FROM documents d
      CROSS JOIN generate_series(0, 12) gx(x)
      CROSS JOIN generate_series(0, 11) gy(y)
    )
    SELECT doc_id, 13 AS width, 12 AS height,
           sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def image_tiff_roundtrip_real(spark, sf_dir):
    """REAL TIFF: uncompressed baseline payloads from the pure-stdlib
    encoder (operators/tiff.py — typed IFD tags, out-of-line
    BitsPerSample triple, single strip) decoded by the full IFD walk
    (both byte orders, SHORT/LONG value types, inline vs offset
    storage, multi-strip assembly; loud refusals for compressed/
    tiled/planar/16-bit). Lossless: the EXACT per-channel sums join
    the BMP/PPM/PNG/GIF queries on the shared generator-formula
    oracle — FIVE wire formats, one SQL statement."""
    from python_plugins_spark.operators import tiff as TIFF

    docs = load_table(spark, "documents", sf_dir)
    enc = TIFF.synth_tiff_payloads(docs, "doc_id", width=13, height=12)
    return TIFF.decode_tiff_stats(enc, "doc_id", "payload")


@register(
    "image_gif_roundtrip_real",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (d.doc_id * 9 + 13 * gx.x + gy.y) % 256 AS r,
             (d.doc_id * 5 + gx.x + 11 * gy.y) % 256 AS g,
             (d.doc_id + 3 * gx.x + 7 * gy.y) % 256 AS b
      FROM documents d
      CROSS JOIN generate_series(0, 12) gx(x)
      CROSS JOIN generate_series(0, 11) gy(y)
    )
    SELECT doc_id, 13 AS width, 12 AS height,
           sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def image_gif_roundtrip_real(spark, sf_dir):
    """REAL GIF: per-document GIF89a payloads from the pure-python
    encoder (operators/gif.py — per-image palette, full LZW with
    variable code widths and table resets, sub-block framing) decoded
    by the matching parser (extension skip, local/global color
    tables, KwKwK case). A 13x12 formula image has <= 156 distinct
    colors, so GIF is lossless here and the EXACT per-channel sums
    must equal the BMP/PPM/PNG queries' shared oracle — FOUR wire
    formats cross-validated by one SQL statement. Arrow-batched
    narrow maps above the 8-byte id fan-out; payloads never shuffle."""
    from python_plugins_spark.operators import gif as GIF

    docs = load_table(spark, "documents", sf_dir)
    enc = GIF.synth_gif_payloads(docs, "doc_id", width=13, height=12)
    return GIF.decode_gif_stats(enc, "doc_id", "payload")


@register(
    "image_jpeg_roundtrip_real",
    oracle="""
    WITH blk AS (
      SELECT d.doc_id, b.b,
             (d.doc_id * 37 + b.b * 11) % 256 AS v
      FROM documents d CROSS JOIN generate_series(0, 3) b(b)
    ),
    dec AS (
      SELECT doc_id, b,
             CAST(least(255, greatest(0,
                 2 * round((v - 128) / 2.0) + 128)) AS INT) AS px
      FROM blk
    )
    SELECT doc_id, 16 AS width, 16 AS height,
           max(CASE WHEN b = 0 THEN px END) AS b00,
           max(CASE WHEN b = 1 THEN px END) AS b01,
           max(CASE WHEN b = 2 THEN px END) AS b10,
           max(CASE WHEN b = 3 THEN px END) AS b11
    FROM dec GROUP BY doc_id
    """,
)
def image_jpeg_roundtrip_real(spark, sf_dir):
    """REAL JPEG: per-document 16x16 grayscale baseline JPEGs built by
    the pure-numpy encoder (operators/jpeg.py — Annex-K quantization +
    Huffman tables, DC-difference coding, byte stuffing, full JFIF
    framing) and decoded back by the matching full parser (DQT/DHT
    canonical rebuild, stuffed-byte bit reader, IDCT). The fixture's
    four constant 8x8 blocks quantize to a DC-only spectrum, so the
    decoded level is closed-form: round-half-away((v-128)/2)*2 + 128
    clamped to [0,255] at quality 50 (where the scaled table IS Annex
    K, q00=16) — the oracle recomputes exactly that from the generator
    formula, independent of every codec byte. The bitstream still
    exercises nonzero DC diffs across blocks, EOBs, and both Huffman
    tables; the lossy AC path is covered by PSNR roundtrip tests
    (tests/test_operators.py). Both stages are Arrow-batched narrow
    maps above the id fan-out — payloads never shuffle at any corpus size."""
    from python_plugins_spark.operators import jpeg as J

    docs = load_table(spark, "documents", sf_dir)
    enc = J.synth_jpeg_payloads(docs, "doc_id", quality=50)
    return J.decode_jpeg_block_means(enc, "doc_id", "payload")


@register(
    "image_jpeg_color_roundtrip_real",
    oracle="""
    WITH m AS (
      SELECT d.doc_id, t.m,
             (d.doc_id * 37 + t.m * 53) % 256 AS r,
             (d.doc_id * 59 + t.m * 31) % 256 AS g,
             (d.doc_id * 83 + t.m * 17) % 256 AS b
      FROM documents d CROSS JOIN generate_series(0, 3) t(m)
    ),
    ycc AS (
      -- encoder YCbCr conversion: identical double literals and
      -- evaluation order as operators/jpeg.py rgb_to_ycbcr
      SELECT doc_id, m,
             least(255, greatest(0, round(0.299 * r + 0.587 * g + 0.114 * b))) AS y,
             least(255, greatest(0, round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0))) AS cb,
             least(255, greatest(0, round(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0))) AS cr
      FROM m
    ),
    rec AS (
      -- DC quantize/dequantize at quality 50 (Annex K verbatim:
      -- luma q00 = 16, chroma q00 = 17). The chroma reconstruction
      -- replays the decoder's float chain (M00*(17*dcq))*M00 with
      -- M00 = sqrt(0.5)/2's double value, SNAPPED to 6 decimals
      -- exactly as _idct_block snaps its GEMM output (the snap makes
      -- the codec independent of the host BLAS kernel's summation
      -- order; 17*dcq/8 can land exactly on .5, so the snap decides
      -- those ties identically in both engines).
      SELECT doc_id, m,
             least(255, greatest(0, round(2 * round((y - 128) / 2.0) + 128.0))) AS yq,
             least(255, greatest(0, round(round((0.3535533905932738 * (17 * round(8 * (cb - 128) / 17.0))) * 0.3535533905932738, 6) + 128.0))) AS cbq,
             least(255, greatest(0, round(round((0.3535533905932738 * (17 * round(8 * (cr - 128) / 17.0))) * 0.3535533905932738, 6) + 128.0))) AS crq
      FROM ycc
    )
    SELECT doc_id, CAST(m AS INT) AS mcu, 32 AS width, 32 AS height,
           CAST(least(255, greatest(0, round(yq + 1.402 * (crq - 128.0)))) AS INT) AS r_rec,
           CAST(least(255, greatest(0, round(yq - 0.344136 * (cbq - 128.0) - 0.714136 * (crq - 128.0)))) AS INT) AS g_rec,
           CAST(least(255, greatest(0, round(yq + 1.772 * (cbq - 128.0)))) AS INT) AS b_rec
    FROM rec
    """,
)
def image_jpeg_color_roundtrip_real(spark, sf_dir):
    """REAL COLOR JPEG (round-7 completion of the codec family): per
    document a 32x32 RGB image of four constant-color 16x16 MCUs,
    encoded by the pure-numpy 4:2:0 baseline encoder (YCbCr, 2x2 box
    chroma subsampling, interleaved 4Y+Cb+Cr MCU scan, Annex-K
    luminance AND chrominance quant/Huffman pairs, three DC predictor
    chains) and decoded by the full parser. Constant MCUs make every
    component DC-only, so the oracle reconstructs each reconstructed
    RGB in closed form from the generator formula — color conversion,
    both quantization tables, and the RGB inverse are all load-bearing
    in the hash; the lossy AC path is PSNR-tested in pytest. Both
    stages narrow maps above the 8-byte id fan-out exchange — the
    payloads themselves never shuffle at any scale (plan-pinned)."""
    from python_plugins_spark.operators import jpeg as J

    docs = load_table(spark, "documents", sf_dir)
    enc = J.synth_color_jpeg_payloads(docs, "doc_id", quality=50)
    return J.decode_color_jpeg_mcu_rgb(enc, "doc_id", "payload")


@register(
    "iceberg_manifest_compact",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 6 != 0 GROUP BY o_orderstatus
    """,
)
def iceberg_manifest_compact(spark, sf_dir):
    """Manifest compaction (Iceberg rewriteManifests): six append
    commits build six per-commit manifests plus an equality delete;
    rewrite_manifests merges them into one data manifest + one delete
    manifest (asserted), and the compacted read — INCLUDING the
    delete's snapshot scoping, preserved via per-entry
    added_snapshot_id — must equal the plain filtered aggregate.
    Closes the round-3 self-documented gap ('one manifest per commit,
    no manifest compaction')."""
    import os
    import shutil

    from python_plugins_spark.sources.iceberg_py import (
        equality_delete_iceberg, read_iceberg, rewrite_manifests,
        write_iceberg,
    )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("slice", (F.col("o_orderkey") % 6).cast("int"))
    path = os.path.join(
        _SCRATCH, f"ice_compact_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    for i in range(6):
        write_iceberg(
            o.filter(F.col("slice") == i).drop("slice"), path,
            mode="overwrite" if i == 0 else "append",
        )
    # drop the first slice via an equality delete on its keys
    keys = o.filter(F.col("slice") == 0).select("o_orderkey")
    equality_delete_iceberg(spark, path, keys)
    stats = rewrite_manifests(path)
    assert stats["manifests_before"] >= 6 and stats["manifests_after"] == 2, stats
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "pipeline_theta_join_percentiles",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n,
           round(quantile_cont(o.o_totalprice, 0.5), 4) AS median_price,
           round(stddev_samp(o.o_totalprice), 4) AS sd_price,
           min(c.c_nationkey) AS min_nation
    FROM customer c JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 150000
    GROUP BY c.c_mktsegment
    """,
)
def pipeline_theta_join_percentiles(spark, sf_dir):
    """CDAP advanced-join + aggregator parity through the pipeline
    runner: batchjoiner with a JOIN CONDITION (equi key AND a range
    predicate, referencing inputs by stage name — the theta-join shape
    the equi-key config cannot express) feeding a groupby aggregator
    using the round-4 function extensions (percentile with args,
    stddev). One fused Catalyst plan; oracle is the plain SQL."""
    from python_plugins_spark.pipeline import run_pipeline

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "cust", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"name": "ord", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "join", "type": "batchjoiner",
             "config": {
                 "joinCondition": (
                     "cust.c_custkey = ord.o_custkey "
                     "AND ord.o_totalprice > 150000"
                 ),
                 "selectedFields": [
                     "cust.c_mktsegment AS c_mktsegment",
                     "cust.c_nationkey AS c_nationkey",
                     "ord.o_totalprice AS o_totalprice",
                 ],
             }},
            {"name": "agg", "type": "batchaggregator.groupby",
             "config": {
                 "groupByFields": ["c_mktsegment"],
                 "aggregates": [
                     {"name": "n", "function": "count", "field": "*"},
                     {"name": "median_price", "function": "percentile",
                      "field": "o_totalprice",
                      "args": {"percentile": 0.5}},
                     {"name": "sd_price", "function": "stddev",
                      "field": "o_totalprice"},
                     {"name": "min_nation", "function": "min",
                      "field": "c_nationkey"},
                 ],
             }},
        ],
        "connections": [
            {"from": "cust", "to": "join"},
            {"from": "ord", "to": "join"},
            {"from": "join", "to": "agg"},
        ],
    })
    return frames["agg"].select(
        "c_mktsegment", "n",
        F.round("median_price", 4).alias("median_price"),
        F.round("sd_price", 4).alias("sd_price"),
        "min_nation",
    )


@register(
    "msgbus_stream_events",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total_value,
           count(DISTINCT user_id) AS users
    FROM events GROUP BY event_type
    """,
)
def msgbus_stream_events(spark, sf_dir):
    """Message-bus (Kafka-shaped) source emulation end-to-end: events
    rows produce EXECUTOR-SIDE into a 4-partition topic (hash-by-key,
    one writer per partition — the broker's own model), then a
    structured-streaming drain consumes the Kafka wire schema
    (key/value/topic/partition/offset/timestamp), JSON-decodes the
    values, and the aggregate must equal the plain table's. Proves the
    full produce -> offsets -> exactly-once-drain -> decode path; no
    network broker exists in this env, so the surface is the point
    (sources/msgbus.py)."""
    import os
    import shutil

    from python_plugins_spark.sources import msgbus

    msgbus.register(spark)
    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(
        _SCRATCH, f"msgbus_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    payload = ev.select(
        F.col("user_id").cast("string").alias("k"),
        F.to_json(
            F.struct("event_id", "event_type", "value", "user_id")
        ).alias("v"),
        "ts",
    )
    msgbus.produce_dataframe(
        payload, root, "events", key_col="k", value_col="v",
        ts_col="ts", partitions=4,
    )

    # Decode IN the stream and drain to a parquet file sink: rows land
    # executor-side on storage, never in a driver memory table (the
    # r5-flagged scale-killer). The exact-distinct aggregate then runs
    # as a normal batch plan over the drained files (streaming can't
    # express countDistinct).
    drain_dir = os.path.join(root, "_drain_out")
    ckpt_dir = os.path.join(root, "_drain_ckpt")
    decoded_stream = (
        spark.readStream.format("msgbus")
        .option("path", root)
        .option("topic", "events")
        .load()
        .select(
            F.from_json(
                F.col("value").cast("string"),
                "event_id long, event_type string, value double, user_id long",
            ).alias("j")
        )
        .select("j.*")
    )
    q = (
        decoded_stream.writeStream.format("parquet")
        .option("path", drain_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    decoded = spark.read.parquet(drain_dir)
    return decoded.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.countDistinct("user_id").alias("users"),
    )


def _raw_url_spark(docs):
    """Deterministically messy raw URLs from the documents table:
    mixed-case scheme/host, default ports, tracking params in varying
    order, fragments — every axis canonicalization must fix."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    host = F.concat(
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
    )
    qs = F.when(
        d % 2 == 0,
        F.concat(F.lit("?utm_source=feed&page="), (d % 40).cast("string")),
    ).otherwise(
        F.concat(F.lit("?page="), (d % 40).cast("string"), F.lit("&utm_campaign=x")),
    )
    frag = F.when(d % 5 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    return docs.withColumn(
        "raw_url",
        F.concat(scheme, F.lit("://"), host, F.lit("/crawl/item"), qs, frag),
    )


_RAW_URL_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' ||
     CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END || source ||
     '.example.com' ||
     CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END || '/crawl/item' ||
     CASE WHEN doc_id % 2 = 0
          THEN '?utm_source=feed&page=' || (doc_id % 40)::VARCHAR
          ELSE '?page=' || (doc_id % 40)::VARCHAR || '&utm_campaign=x' END ||
     CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
"""


def _install_url_queries():
    from python_plugins_spark.operators.text import (
        canonicalize_url, canonicalize_url_sql,
    )

    @register(
        "url_canonicalize_dedup",
        oracle=f"""
        WITH raw AS (SELECT doc_id, source, {_RAW_URL_SQL} AS raw_url
                     FROM documents),
        canon AS (SELECT doc_id,
                         {canonicalize_url_sql('raw_url')} AS canonical_url
                  FROM raw)
        SELECT canonical_url, count(*) AS n_raw, min(doc_id) AS keeper_doc
        FROM canon GROUP BY canonical_url HAVING count(*) > 1
        """,
    )
    def url_canonicalize_dedup(spark, sf_dir):
        """Crawl-frontier URL dedup, the first dedup pass of every web
        corpus: raw URLs differing only in scheme/host case, default
        ports, utm_* tracking params, query-param order, or fragments
        canonicalize to one key, and the group-by keeps the smallest
        doc_id per canonical URL. Canonicalization is expression-only
        (operators/text.py:canonicalize_url — regexp + array lambdas,
        zero Python UDFs, whole-stage codegen); one shuffle on the
        canonical key at any corpus size. Only actually-collapsed
        groups return, so the gate fails if any normalization axis
        breaks."""
        docs = load_table(spark, "documents", sf_dir)
        withc = _raw_url_spark(docs).withColumn(
            "canonical_url", canonicalize_url(F.col("raw_url"))
        )
        return (
            withc.groupBy("canonical_url")
            .agg(F.count("*").alias("n_raw"), F.min("doc_id").alias("keeper_doc"))
            .filter(F.col("n_raw") > 1)
        )


_install_url_queries()


@register(
    "sentence_dedup_docs",
    oracle=f"""
    WITH marked AS (
      SELECT doc_id,
             regexp_replace(trim(text) || ' ', '((\\S+ ){{8}})', '\\1@@ ', 'g') AS m
      FROM documents WHERE doc_id < 200 AND length(trim(text)) > 0
    ),
    sent AS (
      SELECT doc_id, i AS sent_idx, trim(s) AS s
      FROM (SELECT doc_id, string_split(m, '@@') AS parts FROM marked),
           LATERAL (SELECT unnest(parts) AS s,
                           unnest(generate_series(1, len(parts))) AS i)
      WHERE length(trim(s)) > 0
    ),
    ranked AS (
      SELECT doc_id, sent_idx, s,
             row_number() OVER (PARTITION BY s
                                ORDER BY doc_id, sent_idx) AS rn
      FROM sent
    )
    SELECT doc_id,
           count(*) AS n_total,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           md5(string_agg(s, ' ' ORDER BY sent_idx)
               FILTER (WHERE rn = 1)) AS dedup_md5
    FROM ranked GROUP BY doc_id
    """,
)
def sentence_dedup_docs(spark, sf_dir):
    """C4-style cross-document sentence dedup: every sentence that
    already appeared anywhere earlier in the corpus (global first
    occurrence by (doc_id, sent_idx)) is dropped, and each document is
    REASSEMBLED from its surviving sentences in original order — the
    boilerplate-removal pass that deletes repeated headers/footers
    corpus-wide while leaving first occurrences intact. Plan: one
    shuffle on the sentence text for the first-occurrence window, one
    group-by for reassembly; no UDFs, no driver actions."""
    docs = (
        load_table(spark, "documents", sf_dir)
        .filter((F.col("doc_id") < 200) & (F.length(F.trim("text")) > 0))
    )
    marked = F.regexp_replace(
        F.concat(F.trim("text"), F.lit(" ")), r"((\S+ ){8})", "$1@@ "
    )
    sent = (
        docs.select("doc_id", F.posexplode(F.split(marked, "@@")).alias("pos", "s"))
        .select("doc_id", (F.col("pos") + 1).alias("sent_idx"), F.trim("s").alias("s"))
        .filter(F.length("s") > 0)
    )
    w = Window.partitionBy("s").orderBy("doc_id", "sent_idx")
    ranked = sent.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("sent_idx", "s"))
            )
        ).alias("kept"),
    )
    # a doc whose every sentence appeared earlier has NOTHING left:
    # NULL digest (matching SQL string_agg FILTER), not md5('')
    return agg.select(
        "doc_id", "n_total", "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.md5(F.concat_ws(" ", F.transform(F.col("kept"), lambda x: x["s"]))),
        ).alias("dedup_md5"),
    )


@register(
    "iceberg_hidden_partition_prune",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_custkey = 371 GROUP BY o_orderstatus
    """,
)
def iceberg_hidden_partition_prune(spark, sf_dir):
    """Iceberg HIDDEN partitioning (round 4): the table is laid out by
    bucket[8] of o_custkey — a derived key the user never sees — and a
    plain predicate on the SOURCE column prunes the manifest walk to
    one bucket's files (asserted: <= 1/4 of the file list) before any
    file is opened. The spec's core ergonomic: partition pruning
    without partition-aware queries. Identity/bucket/truncate/day all
    supported (sources/iceberg_py.py:_transform_col)."""
    import os
    import shutil

    from python_plugins_spark.sources.iceberg_py import (
        plan_files, read_iceberg, write_iceberg,
    )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        _SCRATCH, f"ice_hidden_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(
        o, path, mode="overwrite",
        partition_by={"transform": "bucket", "source": "o_custkey", "n": 8},
    )
    pruned = plan_files(path, eq={"o_custkey": 371})
    assert len(pruned) <= len(plan_files(path)) // 4, (
        len(pruned), len(plan_files(path))
    )
    back = read_iceberg(spark, path, eq={"o_custkey": 371})
    return (
        back.filter(F.col("o_custkey") == 371)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total"),
        )
    )


@register(
    "delta_generated_columns",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n, sum(fee_cents) AS fee
    FROM (
        SELECT o_orderstatus,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS fee_cents
        FROM orders
    ) GROUP BY o_orderstatus
    """,
)
def delta_generated_columns(spark, sf_dir):
    """Delta GENERATED COLUMNS (protocol feature, round 6 — closes the
    last documented Delta boundary): fee_cents is declared generated
    from o_totalprice; the second append OMITS it and the writer
    computes it (enforcement of provided values rides the constraint
    observation — zero extra scans). Exact integer math (floor + cast)
    keeps both engines bit-identical."""
    import os
    import shutil

    import python_plugins_spark.sources.delta_py as dp

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        _SCRATCH, f"delta_gen_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    half = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "fee_cents", F.floor(F.col("o_totalprice") * 100).cast("bigint")
    )
    dp.write_delta(half, path, "overwrite")
    dp.set_generated_column(
        spark, path, "fee_cents", "CAST(floor(o_totalprice * 100) AS BIGINT)"
    )
    # the second writer doesn't know about the column — it's computed
    dp.write_delta(
        o.filter(F.col("o_orderkey") % 2 == 1), path, "append"
    )
    back = dp.read_delta(spark, path)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"), F.sum("fee_cents").alias("fee")
    )


@register(
    "delta_column_mapping_rename",
    oracle="""
    SELECT o_orderstatus AS status, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def delta_column_mapping_rename(spark, sf_dir):
    """Delta column mapping (protocol 'Column Mapping', mode=name):
    renaming o_orderstatus -> status is a METADATA-ONLY commit — the
    parquet files keep their physical column names and are never
    rewritten (asserted on the file list); the read remaps physical ->
    logical, and appends after the rename write the original physical
    name. O(1) schema refactors on a 100 TB table
    (sources/delta_py.py:enable_column_mapping/rename_column)."""
    import os
    import shutil

    import python_plugins_spark.sources.delta_py as dp

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        _SCRATCH, f"delta_cm_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    dp.write_delta(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    files_before = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    dp.enable_column_mapping(path)
    dp.rename_column(path, "o_orderstatus", "status")
    assert sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    ) == files_before  # metadata-only: zero files rewritten
    # append post-rename under the NEW logical schema
    dp.write_delta(
        o.filter(F.col("o_orderkey") % 2 == 1)
        .withColumnRenamed("o_orderstatus", "status"),
        path, "append",
    )
    back = dp.read_delta(spark, path)
    return back.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


def _install_hist_sketch_queries():
    from python_plugins_spark.operators import sketch as SK

    _LO, _HI, _BINS = 0.0, 600000.0, 256

    @register(
        "hist_quantile_sketch_orders",
        oracle=f"""
        WITH est AS ({SK.hist_quantile_oracle_sql(
            "orders", "o_totalprice", "o_orderpriority",
            0.95, _LO, _HI, _BINS)})
        SELECT g AS o_orderpriority, round(est, 4) AS p95_est FROM est
        """,
    )
    def hist_quantile_sketch_orders(spark, sf_dir):
        """Mergeable histogram-quantile sketch (completing the sketch
        trio with HLL and count-min): per-priority p95 of order price
        from a 256-bin equi-width summary — ONE map-side-combinable
        aggregation whose shuffle carries <= groups x bins rows at any
        input size, then an O(bins) interpolation. The oracle replays
        the identical sketch -> cumulative -> interpolate pipeline in
        SQL, validating the approximate structure exactly (the sketch
        determinism stance of operators/sketch.py)."""
        o = load_table(spark, "orders", sf_dir)
        sk = SK.hist_sketch(o, "o_totalprice", ["o_orderpriority"], _LO, _HI, _BINS)
        est = SK.hist_quantile(sk, ["o_orderpriority"], 0.95, _LO, _HI, _BINS)
        return est.select(
            "o_orderpriority", F.round("est", 4).alias("p95_est")
        )

    @register(
        "hist_sketch_merge_rollup",
        oracle=f"""
        WITH est AS ({SK.hist_quantile_oracle_sql(
            "orders", "o_totalprice", "o_orderpriority",
            0.5, _LO, _HI, _BINS)})
        SELECT g AS o_orderpriority, round(est, 4) AS p50_est FROM est
        """,
    )
    def hist_sketch_merge_rollup(spark, sf_dir):
        """The MERGE property under the gate: per-(priority, status)
        partial sketches merged over status must give the same median
        estimate as sketching the whole table directly — summaries
        combine by elementwise sum, so per-day/per-shard partials roll
        up without re-scanning (asserted against the direct-sketch
        oracle)."""
        o = load_table(spark, "orders", sf_dir)
        partials = SK.hist_sketch(
            o, "o_totalprice", ["o_orderpriority", "o_orderstatus"],
            _LO, _HI, _BINS,
        )
        merged = SK.hist_merge(partials, ["o_orderpriority"])
        est = SK.hist_quantile(merged, ["o_orderpriority"], 0.5, _LO, _HI, _BINS)
        return est.select(
            "o_orderpriority", F.round("est", 4).alias("p50_est")
        )


_install_hist_sketch_queries()


@register(
    "iceberg_partition_spec_evolution",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_partition_spec_evolution(spark, sf_dir):
    """Partition-spec evolution under the gate: half the table lands
    unpartitioned (spec 0), the layout then evolves to identity
    o_orderstatus (a metadata-only commit), and the second half lands
    under the new spec — the read unions both layouts and must equal
    the plain table. Repartitioning FUTURE data costs zero rewrites;
    old files keep the spec they were written with (asserted via
    per-file spec ids)."""
    import os
    import shutil

    from python_plugins_spark.sources.iceberg_py import (
        evolve_partition_spec, plan_files, read_iceberg, write_iceberg,
    )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        _SCRATCH, f"ice_spec_evo_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    evolve_partition_spec(path, "o_orderstatus")
    write_iceberg(o.filter(F.col("o_orderkey") % 2 == 1), path, "append")
    assert {f["spec_id"] for f in plan_files(path)} == {0, 1}
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "pipeline_deduplicate_latest",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS best_price,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC, o_custkey ASC,
                        o_orderstatus ASC, o_orderdate ASC,
                        o_orderpriority ASC) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey, best_price FROM ranked WHERE rn = 1
    """,
)
def pipeline_deduplicate_latest(spark, sf_dir):
    """The CDAP Deduplicate plugin shape through the runner: one
    record per customer — the highest-priced order, deterministic
    tie-break over the remaining columns — as a pipeline stage. One
    window over one shuffle on the dedup key; the oracle replays the
    identical ranking."""
    from python_plugins_spark.pipeline import run_pipeline

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "src", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "dedup", "type": "batchaggregator.deduplicate",
             "config": {"uniqueFields": ["o_custkey"],
                        "filterOperation": {"field": "o_totalprice",
                                            "function": "max"}}},
        ],
        "connections": [{"from": "src", "to": "dedup"}],
    })
    return frames["dedup"].select(
        "o_custkey", "o_orderkey",
        F.round("o_totalprice", 4).alias("best_price"),
    )


@register(
    "iceberg_branch_wap",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def iceberg_branch_wap(spark, sf_dir):
    """Write-audit-publish on BRANCHES (spec v2 refs): half the table
    lands on main, the other half is written to an 'audit' branch —
    main readers never see it (asserted) — and only after the audit
    (row-count + null checks here) does fast-forward promote the
    branch head to main. The staging-table-free WAP shape refs exist
    for; tags pin reproducible training-data freezes the same way."""
    import os
    import shutil

    from python_plugins_spark.sources.iceberg_py import (
        create_ref, fast_forward_main, read_iceberg, write_iceberg,
    )

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        _SCRATCH, f"ice_wap_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(path, ignore_errors=True)
    write_iceberg(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    n_main_before = read_iceberg(spark, path).count()
    create_ref(path, "audit", "branch")
    write_iceberg(
        o.filter(F.col("o_orderkey") % 2 == 1), path, "append", branch="audit"
    )
    # un-published: main unchanged while the branch holds the full set
    assert read_iceberg(spark, path).count() == n_main_before
    staged = read_iceberg(spark, path, ref="audit")
    assert staged.filter(F.col("o_orderkey").isNull()).count() == 0  # audit
    fast_forward_main(path, "audit")
    back = read_iceberg(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


def _install_minhash_index_query():
    from python_plugins_spark.operators import dedup as DD

    _K, _BANDS, _MIN = 32, 8, 24
    _UNION = """(
      SELECT doc_id, text FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id >= 300
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 20
    )"""
    _cte = DD._sql_minhash_sig_cte(_UNION, "text", "doc_id", _K, 3)
    _rows = _K // _BANDS

    @register(
        "incremental_minhash_ingest",
        oracle=f"""
        WITH {_cte},
        _band AS (
          SELECT doc_id, j AS band_id,
                 array_to_string(sig[j * {_rows} + 1 : j * {_rows} + {_rows}], ',') AS band_key
          FROM _sig CROSS JOIN (SELECT unnest(range(0, {_BANDS})) AS j)
        ),
        _cand AS (
          SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
          FROM _band n JOIN _band i
            ON n.band_id = i.band_id AND n.band_key = i.band_key
          WHERE n.doc_id >= 1000000 AND i.doc_id < 1000000
        ),
        _scored AS (
          SELECT c.new_id, c.idx_id,
                 (SELECT count(*) FROM (SELECT unnest(range(0, {_K})) AS p)
                  WHERE sn.sig[p + 1] = si.sig[p + 1]) AS matches
          FROM _cand c
          JOIN _sig sn ON sn.doc_id = c.new_id
          JOIN _sig si ON si.doc_id = c.idx_id
        ),
        _ranked AS (
          SELECT new_id, idx_id, matches,
                 row_number() OVER (PARTITION BY new_id
                                    ORDER BY matches DESC, idx_id ASC) AS rn
          FROM _scored WHERE matches >= {_MIN}
        )
        SELECT new_id AS doc_id, idx_id AS dup_of, matches
        FROM _ranked WHERE rn = 1
        """,
    )
    def incremental_minhash_ingest(spark, sf_dir):
        """The PRODUCTION dedup shape: a persisted MinHash index (two
        Delta tables: LSH band keys + signatures) built on the admitted
        corpus, then a NEW ingest batch — the later half of the corpus
        plus exact copies of 20 admitted docs under fresh ids — checked
        against it by band equi-join + signature-agreement verification
        (>= 24 of 32 minhashes, an integer threshold both engines
        compare identically). The copies MUST surface as duplicates of
        their originals; survivors join the index atomically. Per-batch
        cost is O(batch x matched buckets), independent of corpus
        size — dedup as continuous ingestion, not a one-shot job."""
        import os
        import shutil

        docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        base = docs.filter(F.col("doc_id") < 300)
        new_batch = (
            docs.filter(F.col("doc_id") >= 300)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
            .unionByName(
                docs.filter(F.col("doc_id") < 20)
                .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
            )
        )
        idx = os.path.join(
            _SCRATCH, f"mh_index_{os.path.basename(sf_dir.rstrip('/'))}"
        )
        shutil.rmtree(idx, ignore_errors=True)
        DD.minhash_index_build(base, "text", "doc_id", idx,
                               num_hashes=_K, bands=_BANDS)
        admitted, dups = DD.minhash_index_ingest(
            new_batch, "text", "doc_id", idx, min_matches=_MIN,
            num_hashes=_K, bands=_BANDS,
        )
        # the exact copies are flagged against their originals
        n_copies = dups.filter(
            (F.col("doc_id") >= 2000000)
            & (F.col("dup_of") == F.col("doc_id") - 2000000)
        ).count()
        assert n_copies > 0, "no injected duplicate was caught"
        return dups


_install_minhash_index_query()


@register(
    "delta_shallow_clone_fork",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE (o_orderkey % 2 = 0 AND o_totalprice >= 50000)
       OR o_orderkey % 2 = 1
    GROUP BY o_orderstatus
    """,
)
def delta_shallow_clone_fork(spark, sf_dir):
    """Zero-copy experimentation: SHALLOW CLONE forks the source table
    by absolute file reference (no bytes copied — asserted: zero
    parquet files in the clone directory), then the FORK takes a DV
    delete and an append while the source must remain byte-identical
    (asserted). The fork-a-100TB-table-and-try-something shape; clone
    cost is one metadata commit regardless of table size."""
    import os
    import shutil

    import python_plugins_spark.sources.delta_py as dp

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(_SCRATCH, f"clone_src_{tag}")
    dst = os.path.join(_SCRATCH, f"clone_fork_{tag}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    dp.write_delta(o.filter(F.col("o_orderkey") % 2 == 0), src, "overwrite")
    n_src = dp.read_delta(spark, src).count()
    dp.shallow_clone(src, dst)
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
    dp.delete_delta(spark, dst, "o_totalprice < 50000", mode="dv")
    dp.write_delta(o.filter(F.col("o_orderkey") % 2 == 1), dst, "append")
    assert dp.read_delta(spark, src).count() == n_src  # source untouched
    fork = dp.read_delta(spark, dst)
    return fork.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "delta_time_travel_timestamp",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
)
def delta_time_travel_timestamp(spark, sf_dir):
    """TIMESTAMP AS OF (round 6): the even-key half commits, a
    wall-clock timestamp is captured, the odd-key half commits later —
    and the timestamp read resolves to the first commit only (the
    latest version at or before the captured time). The audit shape:
    'what did the table say when the report ran?'."""
    import os
    import shutil
    import time as _time

    import python_plugins_spark.sources.delta_py as dp

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_SCRATCH, f"dtt_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    dp.write_delta(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)  # keep the second commit out of t_mid's millisecond
    dp.write_delta(o.filter(F.col("o_orderkey") % 2 == 1), path, "append")
    back = dp.read_delta(spark, path, timestamp_as_of=t_mid)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "iceberg_time_travel_timestamp",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
)
def iceberg_time_travel_timestamp(spark, sf_dir):
    """FOR TIMESTAMP AS OF (round 6, the Iceberg twin): resolution
    rides the spec's snapshot-log, and the resolved snapshot's
    recorded schema-id applies — the time-travel view keeps the names
    and types of its era."""
    import os
    import shutil
    import time as _time

    import python_plugins_spark.sources.iceberg_py as I

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_SCRATCH, f"itt_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    I.write_iceberg(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    I.write_iceberg(o.filter(F.col("o_orderkey") % 2 == 1), path, "append")
    back = I.read_iceberg(spark, path, as_of_timestamp=t_mid)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "iceberg_partition_evolution",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def iceberg_partition_evolution(spark, sf_dir):
    """PARTITION SPEC EVOLUTION (round 6 — Iceberg's headline
    advantage over hive layouts): the first half of orders lands
    identity-partitioned by o_orderpriority, then ONE metadata-only
    commit switches the table to bucket(o_custkey, 8) and the second
    half lands under the new spec — no file rewritten (asserted: the
    spec-0 file set is unchanged). The aggregate spans BOTH layouts,
    and pruning applies each file's OWN spec (asserted: an
    o_orderpriority predicate still eliminates old-layout files)."""
    import os
    import shutil

    import python_plugins_spark.sources.iceberg_py as I

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_SCRATCH, f"ispecevo_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    I.write_iceberg(
        o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite",
        partition_by="o_orderpriority",
    )
    old_files = {f["path"] for f in I.plan_files(path)}
    I.evolve_partition_spec(
        path, {"transform": "bucket", "source": "o_custkey", "n": 8}
    )
    I.write_iceberg(o.filter(F.col("o_orderkey") % 2 == 1), path, "append")
    now = I.plan_files(path)
    assert {f["path"] for f in now} >= old_files, "spec evolution rewrote files"
    assert {f["spec_id"] for f in now} == {0, 1}
    pruned = I.plan_files(path, eq={"o_orderpriority": "1-URGENT"})
    assert len(pruned) < len(now), "old-layout pruning broke"
    back = I.read_iceberg(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "iceberg_rollback_snapshot",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1
    GROUP BY o_orderstatus
    """,
)
def iceberg_rollback_snapshot(spark, sf_dir):
    """rollback_to_snapshot (round 6 — Delta RESTORE's format twin): a
    bad load lands as snapshot 2, ONE metadata-only commit moves main
    back to snapshot 1 (history preserved — the bad snapshot still
    time-travels, asserted), and the corrected load appends on top of
    the rolled-back state. Undo cost is one metadata write regardless
    of how much data the mis-step touched."""
    import os
    import shutil

    import python_plugins_spark.sources.iceberg_py as I

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_SCRATCH, f"irollback_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    I.write_iceberg(o.filter(F.col("o_orderkey") % 2 == 0), path, "overwrite")
    bad = I.write_iceberg(
        o.filter(F.col("o_orderkey") % 2 == 1), path, "append"
    )
    I.rollback_iceberg(path, 1)
    # the bad snapshot still time-travels (history, not a rewrite)
    assert I.read_iceberg(spark, path, snapshot_id=bad).count() > \
        I.read_iceberg(spark, path).count()
    I.write_iceberg(o.filter(F.col("o_orderkey") % 4 == 1), path, "append")
    back = I.read_iceberg(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "iceberg_snapshot_fork",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice >= 25000
    GROUP BY o_orderpriority
    """,
)
def iceberg_snapshot_fork(spark, sf_dir):
    """Iceberg's SNAPSHOT procedure (round 6 — the format twin of
    delta_clone_partitioned): fork an identity-partitioned table by
    ABSOLUTE file reference (asserted: zero parquet under the fork),
    then the fork appends its own files (mixed-root scan, partition
    reattachment per root) and takes a row-level DELETE through the
    multi-root scan, while the source must stay byte-identical
    (asserted). Fork cost is one metadata commit at any table size."""
    import os
    import shutil

    import python_plugins_spark.sources.iceberg_py as I

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(_SCRATCH, f"ifork_src_{tag}")
    dst = os.path.join(_SCRATCH, f"ifork_dst_{tag}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    I.write_iceberg(
        o.filter(F.col("o_orderkey") % 3 == 0), src, "overwrite",
        partition_by="o_orderpriority",
    )
    n_src = I.read_iceberg(spark, src).count()
    I.snapshot_iceberg(src, dst)
    assert not [
        f for _, _, fs in os.walk(os.path.join(dst, "data"))
        for f in fs if f.endswith(".parquet")
    ], "fork copied data bytes"
    I.write_iceberg(o.filter(F.col("o_orderkey") % 3 == 1), dst, "append")
    I.delete_iceberg(spark, dst, "o_totalprice < 25000")
    assert I.read_iceberg(spark, src).count() == n_src  # source untouched
    fork = I.read_iceberg(spark, dst)
    return fork.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "delta_clone_partitioned",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1) AND o_totalprice >= 20000
    GROUP BY o_orderpriority
    """,
)
def delta_clone_partitioned(spark, sf_dir):
    """SHALLOW CLONE of a PARTITIONED table (round 6 — partitioned
    tables are the normal case at 100 TB, so the old unpartitioned-only
    refusal was a real dead end). The clone's commit-0 adds reference
    the source's hive-laid-out files ABSOLUTELY; the scan layer groups
    paths by hive root and reads each root under its own basePath, so
    partition columns reconstruct across mixed roots once the fork
    appends its own files. The fork then takes a merge-on-read DV
    delete THROUGH the multi-root scan (row identity rides a
    materialized ``_metadata`` copy, since the virtual column does not
    survive a union). Source asserted byte-identical throughout."""
    import os
    import shutil

    import python_plugins_spark.sources.delta_py as dp

    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(_SCRATCH, f"pclone_src_{tag}")
    dst = os.path.join(_SCRATCH, f"pclone_fork_{tag}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    dp.write_delta(
        o.filter(F.col("o_orderkey") % 3 == 0), src, "overwrite",
        partition_by=["o_orderpriority"],
    )
    n_src = dp.read_delta(spark, src).count()
    dp.shallow_clone(src, dst)
    assert not [
        f for _, _, fs in os.walk(dst) for f in fs if f.endswith(".parquet")
    ], "clone copied data bytes"
    dp.write_delta(o.filter(F.col("o_orderkey") % 3 == 1), dst, "append")
    dp.delete_delta(spark, dst, "o_totalprice < 20000", mode="dv")
    assert dp.read_delta(spark, src).count() == n_src  # source untouched
    fork = dp.read_delta(spark, dst)
    return fork.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("total"),
    )


@register(
    "pipeline_corpus_curation",
    oracle=r"""
    WITH unioned AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
    ),
    base AS (
        SELECT doc_id, text, lang,
               str_split_regex(lower(trim(text)), '\s+') AS t
        FROM unioned WHERE length(trim(text)) > 0
    ),
    quality AS (
        SELECT doc_id, text, lang FROM base
        WHERE len(t) >= 30
          AND len(list_intersect(t, ['the', 'be', 'to', 'of', 'and',
                                     'that', 'have', 'with'])) >= 1
    ),
    deduped AS (
        SELECT doc_id, text, lang FROM (
            SELECT q.*, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn FROM quality q
        ) WHERE rn = 1
    ),
    tok AS (
        SELECT doc_id, (lang = 'en') AS is_target,
               (('0x' || substr(md5(tok), 1, 8))::UBIGINT)::BIGINT % 256 AS b
        FROM (
            SELECT doc_id, lang,
                   unnest(str_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM deduped
        )
    ),
    src AS (SELECT b, count(*) AS c_s FROM tok GROUP BY b),
    tgt AS (SELECT b, count(*) AS c_t FROM tok WHERE is_target GROUP BY b),
    totals AS (
        SELECT count(*) AS n_s,
               sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_t
        FROM tok
    ),
    ratio AS (
        SELECT src.b,
               ln((coalesce(tgt.c_t, 0) + CAST(1.0 AS DOUBLE))
                  / CAST(totals.n_t + 256 AS DOUBLE))
             - ln((src.c_s + CAST(1.0 AS DOUBLE))
                  / CAST(totals.n_s + 256 AS DOUBLE)) AS log_r
        FROM src LEFT JOIN tgt ON src.b = tgt.b, totals
    ),
    perdoc AS (
        SELECT tok.doc_id, count(*) AS n_tok, round(sum(log_r), 4) AS log_w
        FROM tok JOIN ratio ON tok.b = ratio.b
        GROUP BY tok.doc_id
    ),
    keyed AS (
        SELECT doc_id, log_w,
               ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT)::BIGINT + 1)
                  / CAST(4294967297 AS DOUBLE)) / exp(log_w) AS res_key
        FROM perdoc
    ),
    ranked AS (
        SELECT doc_id, log_w,
               row_number() OVER (ORDER BY res_key DESC, doc_id) AS sel_rank
        FROM keyed
    )
    SELECT doc_id, log_w, sel_rank FROM ranked WHERE sel_rank <= 50
    """,
)
def pipeline_corpus_curation(spark, sf_dir):
    """The LLM-corpus curation chain as a declarative JSON pipeline:
    quality gate (token floor + distinct-stopword floor, pure
    expressions) -> exact dedup (md5-keyed window, min-doc_id
    survivor) -> DSIR importance RESAMPLING toward the English slice
    (routes through operators/selection.py — bucket models broadcast,
    selection TakeOrdered). One spec, one fused Catalyst plan; the
    oracle replays the identical chain in SQL including the rounded-
    log-weight resampling keys, so every stage's semantics are pinned
    end-to-end. A transform.sql stage doubles the corpus under
    shifted ids first, so the dedup stage's min-id survivor rule is
    load-bearing in the hash (the +100000 copies must all vanish).
    This is the 'a reference user can run their corpus pipeline here'
    surface: the stages are config, not code."""
    from python_plugins_spark.pipeline import run_pipeline

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "docs", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/documents.parquet"}},
            {"name": "doubled", "type": "transform.sql",
             "config": {"viewName": "curation_docs",
                        "statement": (
                            "SELECT doc_id, text, lang FROM curation_docs "
                            "UNION ALL SELECT doc_id + 100000 AS doc_id, "
                            "text, lang FROM curation_docs"
                        )}},
            {"name": "quality", "type": "transform.qualityfilter",
             "config": {"field": "text", "minWords": 30,
                        "minStopwordHits": 1}},
            {"name": "dedup", "type": "transform.dedup",
             "config": {"field": "text", "orderField": "doc_id"}},
            {"name": "select", "type": "transform.selection",
             "config": {"method": "dsir",
                        "targetCondition": "lang = 'en'", "k": 50}},
        ],
        "connections": [
            {"from": "docs", "to": "doubled"},
            {"from": "doubled", "to": "quality"},
            {"from": "quality", "to": "dedup"},
            {"from": "dedup", "to": "select"},
        ],
    })
    return frames["select"]


@register(
    "pipeline_validate_errors",
    oracle="""
    WITH staged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE o_totalprice END AS price,
               o_orderpriority
        FROM orders
    ),
    flags AS (
        SELECT NOT coalesce(price > 0, FALSE) AS v1,
               NOT coalesce(price <= 400000, FALSE) AS v2,
               NOT coalesce(length(o_orderpriority) > 0, FALSE) AS v3
        FROM staged
    )
    SELECT rule, n FROM (
        SELECT 'price_present_positive' AS rule,
               count(*) FILTER (v1) AS n FROM flags
        UNION ALL
        SELECT 'price_cap', count(*) FILTER (v2) FROM flags
        UNION ALL
        SELECT 'prio_nonempty', count(*) FILTER (v3) FROM flags
        UNION ALL
        SELECT '_passed', count(*) FILTER (NOT v1 AND NOT v2 AND NOT v3)
        FROM flags
        UNION ALL
        SELECT '_errors', count(*) FILTER (v1 OR v2 OR v3) FROM flags
    ) WHERE n > 0 OR rule IN ('_passed', '_errors')
    """,
)
def pipeline_validate_errors(spark, sf_dir):
    """Declarative data-quality EXPECTATIONS with the reference's
    error-port semantics (PythonEvaluator.java:209-214 emitError):
    a transform.sql stage nullifies every 97th order's price, then a
    transform.validate stage checks three rules (NULL-safe: a NULL
    rule result is a violation — the nulled prices must break BOTH
    price rules at once). Failing rows land on the .errors port
    annotated with the rule names they broke; the query returns
    per-rule violation counts plus the passed/errors totals, so the
    routing split AND the multi-violation annotation are load-bearing
    in the hash. onViolation='fail' (the reference's 'Could not
    transform input.' fail-fast) is covered in tests/test_pipeline.py.
    Scale: the rule array is one codegen expression over the scan —
    zero extra shuffles; the error port is a filter, not a copy."""
    from python_plugins_spark.pipeline import run_pipeline

    frames = run_pipeline(spark, {
        "stages": [
            {"name": "ord", "type": "batchsource.parquet",
             "config": {"path": f"{sf_dir}/orders.parquet"}},
            {"name": "staged", "type": "transform.sql",
             "config": {"viewName": "validate_orders",
                        "statement": (
                            "SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 "
                            "THEN NULL ELSE o_totalprice END AS price, "
                            "o_orderpriority FROM validate_orders"
                        )}},
            {"name": "val", "type": "transform.validate",
             "config": {"rules": [
                 {"name": "price_present_positive", "expr": "price > 0"},
                 {"name": "price_cap", "expr": "price <= 400000"},
                 {"name": "prio_nonempty",
                  "expr": "length(o_orderpriority) > 0"},
             ]}},
        ],
        "connections": [
            {"from": "ord", "to": "staged"},
            {"from": "staged", "to": "val"},
        ],
    })
    errs = frames["val.errors"]
    per_rule = (
        errs.select(F.explode("_violations").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n"))
    )
    passed = frames["val"].agg(F.count("*").alias("n")).select(
        F.lit("_passed").alias("rule"), "n"
    )
    esum = errs.agg(F.count("*").alias("n")).select(
        F.lit("_errors").alias("rule"), "n"
    )
    return per_rule.unionByName(passed).unionByName(esum)


def _image_dhash_oracle() -> str:
    """Replays the 56-bit dHash from the GENERATING block formulas
    (never from decoding — fully independent of the codec chain): one
    CASE term per gradient bit over the integer luma of adjacent
    blocks. The (0,0) noise pixel is absent by construction: n < 16
    vanishes under the pooled //16, which is exactly what the query
    asserts about the operator."""
    def v(bx: int, by: int) -> str:
        return (
            f"(((doc_id % 17)*31 + {bx}*7 + {by}*13) % 97"
            f" + 2*(((doc_id % 17)*17 + {bx}*11 + {by}*3) % 89)"
            f" + (((doc_id % 17)*23 + {bx}*5 + {by}*19) % 83)) // 4"
        )

    terms = []
    for row in range(8):
        for col in range(7):
            k = row * 7 + col
            terms.append(
                f"(CASE WHEN ({v(col + 1, row)}) > ({v(col, row)})"
                f" THEN {1 << k} ELSE 0 END)"
            )
    hash_expr = "\n         + ".join(terms)
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({hash_expr} AS BIGINT) AS phash
      FROM documents
    )
    SELECT doc_id, phash,
           CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_dups,
           doc_id = min(doc_id) OVER (PARTITION BY phash) AS keep
    FROM h
    """


@register("image_dhash_dedup", oracle=_image_dhash_oracle())
def image_dhash_dedup(spark, sf_dir):
    """Perceptual-hash IMAGE dedup (operators/phash.py) — the
    multimodal twin of exact text dedup: re-encoded or noise-dusted
    copies of an image byte-differ (and md5-differ) but share a dHash,
    so corpus image dedup groups by a 56-bit fingerprint. The fixture
    renders REAL 32x32 BMPs (block-uniform channels seeded by
    doc_id % 17, plus a per-variant noise pixel that changes the
    payload bytes but provably not the pooled luma), the operator
    decodes them through the real BMP parser, luma-pools 4x4 blocks,
    and emits one gradient bit per adjacent cell pair; the oracle
    replays every bit from the generating integer formulas, fully
    independent of the codec chain. Verdict columns mirror
    dedup_exact: group size and keep = min-id canonical. Plan: codec
    id-fan-out + narrow decode/hash maps, then ONE hash-partitioned
    window over the 8-byte fingerprint — the exact-dedup shuffle
    shape at any corpus size (Hamming-radius matching would reuse the
    SimHash band join instead)."""
    from python_plugins_spark.operators.phash import (
        image_dhash, synth_block_image_payloads,
    )

    docs = load_table(spark, "documents", sf_dir)
    enc = synth_block_image_payloads(docs, "doc_id")
    h = image_dhash(enc, "doc_id", "payload")
    w = Window.partitionBy("phash")
    return h.select(
        "doc_id",
        "phash",
        F.count("*").over(w).cast("long").alias("n_dups"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


def _audio_fp_oracle() -> str:
    """Replays the 15-bit energy envelope from the generating
    amplitude formula (energy ordering across frames follows a² — the
    intra-frame pattern and the variant sign mask cancel), fully
    independent of the RIFF chain."""
    def a(f: int) -> str:
        return f"(100 + ((doc_id % 13)*11 + {f}*23) % 173)"

    terms = [
        f"(CASE WHEN {a(f + 1)} > {a(f)} THEN {1 << f} ELSE 0 END)"
        for f in range(15)
    ]
    fp = "\n         + ".join(terms)
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({fp} AS BIGINT) AS afp FROM documents
    )
    SELECT doc_id, afp,
           CAST(count(*) OVER (PARTITION BY afp) AS BIGINT) AS n_dups,
           doc_id = min(doc_id) OVER (PARTITION BY afp) AS keep
    FROM h
    """


@register("audio_fingerprint_dedup", oracle=_audio_fp_oracle())
def audio_fingerprint_dedup(spark, sf_dir):
    """Energy-envelope AUDIO dedup (operators/phash.py) — the audio
    twin of image_dhash_dedup (Haitsma-Kalker sign-of-energy-delta
    family, time axis): polarity/phase edits change a recording's
    bytes but never its squared samples, so re-mastered copies share
    a fingerprint. The fixture renders REAL PCM16 WAVs (per-frame
    amplitudes seeded by doc_id % 13, all 13 groups mapping to
    distinct 15-bit envelopes) whose per-variant SIGN MASK changes
    payload bytes but provably not x²; the operator walks the real
    RIFF chunks, sums exact int64 frame energies, and emits one
    louder-next bit per adjacent frame pair. The oracle replays every
    bit from the generating amplitude formula, independent of the
    codec. Plan: codec id-fan-out + narrow decode/fingerprint maps,
    then ONE hash-partitioned window over the fingerprint — the
    exact-dedup shuffle shape at any corpus size."""
    from python_plugins_spark.operators.phash import (
        audio_fingerprint, synth_fingerprint_wav_payloads,
    )

    docs = load_table(spark, "documents", sf_dir)
    enc = synth_fingerprint_wav_payloads(docs, "doc_id")
    h = audio_fingerprint(enc, "doc_id", "payload")
    w = Window.partitionBy("afp")
    return h.select(
        "doc_id",
        "afp",
        F.count("*").over(w).cast("long").alias("n_dups"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


def _video_fp_oracle() -> str:
    """Replays the sampled-frame dHashes (frames 0,1,3,4 of 6; 4x4
    grid, 12 bits each) from the generating block formulas and md5s
    the ':'-joined decimals — fully independent of the BMP stream
    walk. The unsampled frames (2, 5) and the noise pixels are absent
    by construction: that is exactly the robustness the query
    asserts."""
    def luma(j: int, bx: int, by: int) -> str:
        return (
            f"((((doc_id % 11)*31 + {j}*41 + {bx}*7 + {by}*13) % 97"
            f" + 2*(((doc_id % 11)*17 + {j}*29 + {bx}*11 + {by}*3) % 89)"
            f" + (((doc_id % 11)*23 + {j}*37 + {bx}*5 + {by}*19) % 83)) // 4)"
        )

    def dh(j: int) -> str:
        terms = [
            f"(CASE WHEN {luma(j, c + 1, r)} > {luma(j, c, r)}"
            f" THEN {1 << (r * 3 + c)} ELSE 0 END)"
            for r in range(4)
            for c in range(3)
        ]
        return "(" + "\n           + ".join(terms) + ")"

    concat = " || ':' || ".join(
        f"CAST(CAST({dh(j)} AS BIGINT) AS VARCHAR)" for j in (0, 1, 3, 4)
    )
    return f"""
    WITH h AS (
      SELECT doc_id, md5({concat}) AS vfp FROM documents
    )
    SELECT doc_id, 6 AS n_frames, vfp,
           CAST(count(*) OVER (PARTITION BY vfp) AS BIGINT) AS n_dups,
           doc_id = min(doc_id) OVER (PARTITION BY vfp) AS keep
    FROM h
    """


@register("video_fingerprint_dedup", oracle=_video_fp_oracle())
def video_fingerprint_dedup(spark, sf_dir):
    """Sampled-frame VIDEO dedup (operators/phash.py) — the third
    modality of the perceptual family (image_dhash_dedup,
    audio_fingerprint_dedup): a video's fingerprint is the md5 of the
    dHashes of k=4 evenly sampled frames, so re-encodes, per-frame
    noise, AND edits confined to unsampled frames all collapse to one
    fingerprint. The fixture renders REAL 6-frame BMP streams (frame
    boundaries walked from each BMP header's OWN declared size — the
    uncompressed-AVI frame layout, no fixed-stride assumption) where
    variants rewrite whole unsampled frames and dust every frame's
    (0,0) pixel; the oracle replays the sampled-frame hashes from the
    generating formulas, independent of the container walk and codec.
    Plan: codec id-fan-out + narrow walk/decode/hash maps, then ONE
    hash-partitioned window over the fingerprint — the exact-dedup
    shuffle shape at any corpus size."""
    from python_plugins_spark.operators.phash import (
        synth_video_payloads, video_fingerprint,
    )

    docs = load_table(spark, "documents", sf_dir)
    enc = synth_video_payloads(docs, "doc_id")
    h = video_fingerprint(enc, "doc_id", "payload")
    w = Window.partitionBy("vfp")
    return h.select(
        "doc_id",
        "n_frames",
        "vfp",
        F.count("*").over(w).cast("long").alias("n_dups"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


def _phash_neardup_oracle() -> str:
    """Replays the variant-aware 56-bit hashes (whitened rightmost
    blocks for rows < doc_id % 3 -> luma 255) from the generating
    formulas, then finds Hamming<=3 pairs by the O(n²) theta join —
    the exactness baseline the banded Spark path must equal."""
    def luma(bx: int, r: int) -> str:
        base = (
            f"((((doc_id % 17)*31 + {bx}*7 + {r}*13) % 97"
            f" + 2*(((doc_id % 17)*17 + {bx}*11 + {r}*3) % 89)"
            f" + (((doc_id % 17)*23 + {bx}*5 + {r}*19) % 83)) // 4)"
        )
        if bx == 7:
            return f"(CASE WHEN {r} < doc_id % 3 THEN 255 ELSE {base} END)"
        return base

    terms = [
        f"(CASE WHEN {luma(c + 1, r)} > {luma(c, r)}"
        f" THEN {1 << (r * 7 + c)} ELSE 0 END)"
        for r in range(8)
        for c in range(7)
    ]
    hash_expr = "\n         + ".join(terms)
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({hash_expr} AS BIGINT) AS phash FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """


@register("image_phash_neardup_pairs", oracle=_phash_neardup_oracle())
def image_phash_neardup_pairs(spark, sf_dir):
    """Hamming-radius perceptual NEAR-dup pairs (operators/phash.py:
    phash_neardup_pairs) — radius-0 grouping (image_dhash_dedup) can't
    catch a crop or border edit that flips a few gradient bits; this
    finds all pairs within Hamming distance 3 via the SimHash
    pigeonhole band join (4 x 14-bit bands: d <= 3 guarantees a shared
    band), NEVER an O(n²) cross join. The fixture's variants whiten
    rightmost-column blocks — each flips at most one gradient bit, so
    within-group distances are <= 2 while the 17 base hashes sit >= 14
    apart (verified): the radius cleanly separates groups. Hashes
    travel through the REAL BMP decode; the oracle replays the
    variant-aware bits from the generating formulas and pairs them
    with the exact theta join — the banded path must equal the
    exhaustive baseline. Plan: narrow decode/hash maps, one band-key
    shuffle, bucket-local candidates (quadratic only inside duplicate
    clusters — the standard LSH shape). At scale, degenerate clusters
    (solid-color placeholders with one shared dHash) are shed with
    the operator's ``max_bucket`` cap — the minhash_lsh_pairs twin,
    proven clean-pair-preserving by
    test_phash_skew_cap_bounds_degenerate_cluster; the gate query runs
    uncapped so it stays bit-equal to the exhaustive oracle."""
    from python_plugins_spark.operators.phash import (
        image_dhash, phash_neardup_pairs, synth_block_image_payloads,
    )

    docs = load_table(spark, "documents", sf_dir)
    enc = synth_block_image_payloads(docs, "doc_id", variant_blocks=True)
    h = image_dhash(enc, "doc_id", "payload")
    return phash_neardup_pairs(h, "doc_id", "phash", bands=4, max_hamming=3)


def _dhash_gen_expr(g: str, groups: int = 29) -> str:
    """56-bit dHash generator expression for group ``g`` (SQL
    fragment) under the block-formula fixture — the variant noise and
    encode/decode chain are absent by construction (the noise
    provably vanishes under the pool; that is the operator's claim)."""
    def luma(bx: int, by: int) -> str:
        return (
            f"((({g})*31 + {bx}*7 + {by}*13) % 97"
            f" + 2*((({g})*17 + {bx}*11 + {by}*3) % 89)"
            f" + ((({g})*23 + {bx}*5 + {by}*19) % 83)) // 4"
        )

    terms = [
        f"(CASE WHEN ({luma(c + 1, r)}) > ({luma(c, r)})"
        f" THEN {1 << (r * 7 + c)} ELSE 0 END)"
        for r in range(8)
        for c in range(7)
    ]
    return "CAST(" + "\n         + ".join(terms) + " AS BIGINT)"


@register(
    "incremental_phash_ingest",
    oracle=f"""
    -- the 15 byte-distinct re-noised copies (generator id d+29: same
    -- group d, different variant) must flag against the smallest
    -- indexed doc of their group, which is doc d itself; the 14
    -- fresh-group docs are admitted and do not appear here
    SELECT doc_id + 2000000 AS doc_id,
           {_dhash_gen_expr("doc_id")} AS phash,
           doc_id AS dup_of,
           CAST(0 AS INTEGER) AS hamming
    FROM documents WHERE doc_id < 15
    """,
)
def incremental_phash_ingest(spark, sf_dir):
    """The PRODUCTION image-dedup shape (operators/phash.py:
    phash_index_build/ingest) — a persisted Delta fingerprint index
    over the admitted image corpus, then a NEW ingest batch checked
    against it by ONE equi-join on the 8-byte dHash. The index is
    built on groups 0-14 of the 29-group fixture; the batch carries
    14 fresh-group images (must be ADMITTED and join the index
    atomically) and 15 byte-distinct re-noised copies of indexed
    images (generator id d+29: same group => same fingerprint through
    the REAL encode->decode->hash chain, different variant => different
    payload bytes — an md5 index would miss every one). dup_of = the
    smallest indexed id sharing the fingerprint; the oracle replays
    the expected dup set and fingerprints from the generating
    formulas. Per-batch cost is independent of corpus size beyond the
    16-bytes-per-image index scan — dedup as continuous ingestion.
    The Hamming-radius variant is incremental_phash_radius_ingest;
    both variants' duplicates frames share one schema
    (id, phash, dup_of, hamming — 0 here by definition)."""
    import os
    import shutil

    from python_plugins_spark.operators.phash import (
        image_dhash, phash_index_build, phash_index_ingest,
        synth_block_image_payloads,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    base_ids = docs.filter(
        (F.col("doc_id") < 300) & (F.col("doc_id") % 29 < 15)
    )
    h_base = image_dhash(
        synth_block_image_payloads(base_ids, "doc_id", groups=29),
        "doc_id", "payload",
    )
    idx = os.path.join(
        _SCRATCH, f"phash_index_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(idx, ignore_errors=True)
    phash_index_build(h_base, "doc_id", idx)

    fresh_gen = docs.filter(
        (F.col("doc_id") >= 15) & (F.col("doc_id") <= 28)
    )
    copy_gen = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 29).alias("doc_id")
    )
    h_fresh = image_dhash(
        synth_block_image_payloads(fresh_gen, "doc_id", groups=29),
        "doc_id", "payload",
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "phash")
    h_copies = image_dhash(
        synth_block_image_payloads(copy_gen, "doc_id", groups=29),
        "doc_id", "payload",
    ).select((F.col("doc_id") - 29 + 2000000).alias("doc_id"), "phash")

    admitted, dups = phash_index_ingest(
        h_fresh.unionByName(h_copies), "doc_id", idx
    )
    n_admitted = admitted.count()
    assert n_admitted == 14, f"expected 14 fresh admissions, got {n_admitted}"
    return dups


def _dhash_variant_expr(g: str, v: int) -> str:
    """56-bit dHash generator expression under the variant_blocks
    fixture: rightmost-column blocks of rows 0..v-1 are WHITENED
    (luma 255 > any base luma <= 88); everything else is the base
    block formula. v is a literal so the whitening is resolved at
    SQL-generation time."""
    def luma(bx: int, by: int) -> str:
        if bx == 7 and by < v:
            return "255"
        return (
            f"((({g})*31 + {bx}*7 + {by}*13) % 97"
            f" + 2*((({g})*17 + {bx}*11 + {by}*3) % 89)"
            f" + ((({g})*23 + {bx}*5 + {by}*19) % 83)) // 4"
        )

    terms = [
        f"(CASE WHEN ({luma(c + 1, r)}) > ({luma(c, r)})"
        f" THEN {1 << (r * 7 + c)} ELSE 0 END)"
        for r in range(8)
        for c in range(7)
    ]
    return "CAST(" + "\n         + ".join(terms) + " AS BIGINT)"


@register(
    "incremental_phash_radius_ingest",
    oracle=f"""
    -- the 15 near-copies (generator id d = 3g+58: same group 3g%29 as
    -- indexed base 3g, variant v=1 whitens one block => Hamming 0-1
    -- from the base) must flag against their base id d-58 with the
    -- exact distance; the 14 fresh-group docs (>= 9 bits from every
    -- indexed hash, measured) are admitted and do not appear here
    WITH c AS (
      SELECT doc_id,
             {_dhash_variant_expr("doc_id % 29", 1)} AS phash,
             {_dhash_variant_expr("doc_id % 29", 0)} AS base_hash
      FROM documents
      WHERE doc_id >= 58 AND doc_id <= 100 AND doc_id % 3 = 1
    )
    SELECT doc_id, phash, doc_id - 58 AS dup_of,
           CAST(bit_count(xor(phash, base_hash)) AS INTEGER) AS hamming
    FROM c
    """,
)
def incremental_phash_radius_ingest(spark, sf_dir):
    """Hamming-RADIUS incremental image ingest (operators/phash.py:
    phash_index_radius_ingest) — the gap its radius-0 sibling's
    docstring names: a RE-NOISED copy (border whitened, a few gradient
    bits flipped) slips through the radius-0 fingerprint equi-join, so
    this bands the persisted Delta index the way phash_neardup_pairs
    bands a frame (4 x 14-bit pigeonhole bands) and verifies
    candidates with exact bit_count(xor) <= 3. Fixture through the
    REAL encode->decode->hash chain: the index holds 15 base images
    (generator ids 3g, one per group, variant 0); the batch carries 14
    fresh-group images (>= 9 bits from every indexed hash — measured,
    must be ADMITTED) and 15 variant-1 copies (ids 3g+58: same group,
    whitened rightmost block => Hamming 0-1 from their base — a
    radius-0 ingest admits the distance-1 ones; THIS one flags every
    copy with its exact distance). The oracle replays both hash
    families from the generating formulas, codec-independent.
    Plan: the batch's band keys BROADCAST, so the band join is
    map-side over the index scan — no index shuffle, no hot task; the
    index is self-limiting (every admitted print is > radius from all
    earlier ones, so degenerate identical-fingerprint clusters cannot
    accumulate). Durability across batches is pytest-pinned
    (test_phash_radius_ingest_second_batch)."""
    import os
    import shutil

    from python_plugins_spark.operators.phash import (
        image_dhash, phash_index_build, phash_index_radius_ingest,
        synth_block_image_payloads,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    base_ids = docs.filter((F.col("doc_id") < 45) & (F.col("doc_id") % 3 == 0))
    h_base = image_dhash(
        synth_block_image_payloads(
            base_ids, "doc_id", groups=29, variant_blocks=True
        ),
        "doc_id", "payload",
    )
    idx = os.path.join(
        _SCRATCH, f"phash_radius_idx_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(idx, ignore_errors=True)
    phash_index_build(h_base, "doc_id", idx)

    batch_ids = docs.filter(
        (
            (F.col("doc_id") >= 45)
            & (F.col("doc_id") <= 84)
            & (F.col("doc_id") % 3 == 0)
        )
        | (
            (F.col("doc_id") >= 58)
            & (F.col("doc_id") <= 100)
            & (F.col("doc_id") % 3 == 1)
        )
    )
    h_batch = image_dhash(
        synth_block_image_payloads(
            batch_ids, "doc_id", groups=29, variant_blocks=True
        ),
        "doc_id", "payload",
    )
    admitted, dups = phash_index_radius_ingest(h_batch, "doc_id", idx)
    n_admitted = admitted.count()
    assert n_admitted == 14, f"expected 14 fresh admissions, got {n_admitted}"
    return dups


@register(
    "embedding_int8_quantize",
    oracle=S.quantize_int8_oracle_sql("embeddings", "vec_id", "embedding", 64),
)
def embedding_int8_quantize(spark, sf_dir):
    """Per-dimension affine INT8 quantization of the embedding corpus
    (operators/similarity.py quantize_embeddings_int8 — the
    faiss-SQ8 / vector-database storage format): corpus-wide per-dim
    [min, max] maps each float32 to a byte code, a 4x storage cut
    that keeps a 100 TB embedding index RAM-resident, with the two
    acceptance numbers a pipeline thresholds on — per-vector max
    reconstruction error and original-vs-dequantized cosine. Plan:
    ONE map-side-combined aggregate builds the 128 per-dim extrema
    (no explode — corpus x dim rows never shuffle), broadcast back as
    a 1-row frame; quantize + error math are pure JVM expressions.
    The oracle replays the identical extrema, floor-affine code
    formula, and left-associative sums, so errors and cosines
    hash-match bit-for-bit before the 6 dp round. Codes are dropped
    from the comparator output (arrays do not hash portably); the
    pytest checks code-range and determinism separately."""
    emb = load_table(spark, "embeddings", sf_dir)
    out = S.quantize_embeddings_int8(emb, "vec_id", "embedding", 64)
    return out.select("vec_id", "max_abs_err", "cos_recon")


def _audio_spectral_oracle() -> str:
    """Replays every Haitsma-Kalker bit from the generating amplitude
    formula in EXACT integer arithmetic (band energies order as the
    squared amplitudes: exact-bin sines have zero spectral leakage
    and the minimal double-difference gap, 1638 amp^2 units by
    construction, dwarfs FFT rounding), fully independent of the
    RIFF/FFT chain."""
    from python_plugins_spark.operators.phash import (
        SPECTRAL_M1, SPECTRAL_M2, SPECTRAL_M3, SPECTRAL_MOD, SPECTRAL_MULT,
    )

    def a(f: int, b: int) -> str:
        return (
            f"(100 + (((doc_id % 11)*{SPECTRAL_M1} + {f}*{SPECTRAL_M2}"
            f" + {b}*{SPECTRAL_M3}) % {SPECTRAL_MOD}) * {SPECTRAL_MULT})"
        )

    terms = []
    kk = 0
    for f in range(1, 9):
        for b in range(7):
            d = (
                f"(({a(f, b)}*{a(f, b)} - {a(f, b + 1)}*{a(f, b + 1)})"
                f" - ({a(f - 1, b)}*{a(f - 1, b)}"
                f" - {a(f - 1, b + 1)}*{a(f - 1, b + 1)}))"
            )
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << kk} ELSE 0 END)")
            kk += 1
    fp = "\n         + ".join(terms)
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({fp} AS BIGINT) AS sfp FROM documents
    )
    SELECT doc_id, sfp,
           CAST(count(*) OVER (PARTITION BY sfp) AS BIGINT) AS n_dups,
           doc_id = min(doc_id) OVER (PARTITION BY sfp) AS keep
    FROM h
    """


@register("audio_spectral_dedup", oracle=_audio_spectral_oracle())
def audio_spectral_dedup(spark, sf_dir):
    """FREQUENCY-domain audio dedup (operators/phash.py
    audio_spectral_bits) — the ACTUAL Haitsma-Kalker 2002 fingerprint,
    upgrading the time-envelope reduction of audio_fingerprint_dedup:
    per frame an FFT splits the spectrum into 8 bands, and one bit per
    (frame, band-pair) takes the sign of the time-and-frequency
    double difference of band energies — so phase-shifted re-masters
    (every byte different, sin -> cos) collapse to one fingerprint,
    while a band-swap edit with equal total energy (invisible to the
    envelope bits) flips these. The fixture renders REAL PCM16 WAVs:
    one sine per band at the band's EXACT center bin (zero spectral
    leakage) with amplitudes seeded by doc_id % 11 (all 11 groups
    distinct by search) and a per-variant global phase shift; the
    oracle replays every bit from the amplitude formula in exact
    integer arithmetic, independent of the RIFF/FFT chain (the
    minimal double-difference gap dwarfs FFT rounding — equality
    FFT-vs-analytic is pytest-pinned across the family). Plan: codec
    id-fan-out + narrow decode/FFT maps, then ONE hash-partitioned
    window — the exact-dedup shuffle shape at any corpus size."""
    from python_plugins_spark.operators.phash import (
        audio_spectral_fingerprint, synth_spectral_wav_payloads,
    )

    docs = load_table(spark, "documents", sf_dir)
    enc = synth_spectral_wav_payloads(docs, "doc_id")
    h = audio_spectral_fingerprint(enc, "doc_id", "payload")
    w = Window.partitionBy("sfp")
    return h.select(
        "doc_id",
        "sfp",
        F.count("*").over(w).cast("long").alias("n_dups"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )
