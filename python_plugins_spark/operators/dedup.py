"""Deduplication operators for training-data pipelines.

Families implemented (all engine-portable deterministic hashing — see
:mod:`python_plugins_spark.functions`):

- **exact** — hash-groupBy on the raw or normalized content;
  deterministic survivor (min id), unlike bare ``dropDuplicates``.
- **MinHash + LSH** — word-shingle -> 32-bit hash set -> k permutation
  minima -> banded signature -> bucket self-join for candidate pairs ->
  optional exact-Jaccard verification. The LSH band join is the scale
  path: candidate generation is an equi-join on (band_id, band_key),
  i.e. one shuffle, no O(n^2) compare.
- **SimHash** — 60-bit frequency-weighted fingerprint; near-dup =
  Hamming distance <= d, candidates via 15-bit band buckets.
- **n-gram Jaccard** — exact similarity on shingle sets; O(n^2) unless
  given LSH candidates, so at scale always feed it candidate pairs.

Every operator has a ``*_oracle_sql`` twin generating DuckDB SQL with
identical constants (permutation seeds, band layout, shingle width) so
the driver's hash-compare validates the full pipeline, not a toy.

Scale notes (100 TB): signatures are one narrow projection pass
(md5 + array ops, all codegen); the band stage shuffles only
(band_id, band_key, doc_id) — a few dozen bytes per doc per band.
Skewed buckets (boilerplate docs): candidate generation is an
array-bucket AGGREGATE (not a join), so AQE's skew-join split does
not apply — the binding mitigation is the ``max_bucket`` cap, which
drops pathological buckets BEFORE the quadratic local pair expansion
(what production dedup pipelines do; run exact dedup first so
identical boilerplate never reaches LSH). The cap provably does not
change recall on non-pathological pairs — pytest-pinned
(test_minhash_skew_cap_bounds_boilerplate).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_plugins_spark.functions import (
    HASH60_BITS,
    MINHASH_PRIME,
    hash32,
    hash60,
    minhash_perm,
    norm_text,
    tokens,
    word_shingles,
)
from python_plugins_spark.functions import oracle_fragments as O
from python_plugins_spark.operators.relational import dedup_rows
from python_plugins_spark.session import (
    stage_checkpoint,
    stage_checkpoint_iterative,
)

# Gram-hash width of the span-dedup family (round 10: widened from 32
# to 60 bits — a 32-bit collision DELETES unrelated text). The width
# is part of the persisted span-index FORMAT: build stamps it into the
# index's meta table and ingest refuses a mismatch, because both
# widths are plain BIGINT columns and a silent mismatch would
# zero-match the gram equi-join, re-admitting every indexed duplicate
# as novel with no error. DERIVED from the hash implementation's own
# exported width so the two cannot drift apart.
SPAN_GRAM_HASH_BITS = HASH60_BITS

# Deterministic permutation parameters: part of the operator contract,
# mirrored into the oracle SQL. a < 2^16 keeps a*h+b < 2^48 (overflow-
# safe signed-64 in both engines).
_rng = random.Random(42)
DEFAULT_NUM_HASHES = 32
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 16), _rng.randrange(0, 1 << 32))
    for _ in range(DEFAULT_NUM_HASHES)
]
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per distinct content."""
    return dedup_rows(df, content_cols, [F.col(id_col).asc()])


def dedup_exact_oracle_sql(table: str, content_cols: list[str], id_col: str, cols: str) -> str:
    keys = ", ".join(content_cols)
    return f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {id_col}) AS _rn
          FROM {table}
        ) WHERE _rn = 1
    """


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    punctuation-stripped lower-cased text."""
    cleaned = F.regexp_replace(norm_text(text), "[^a-z0-9 ]", "")
    return F.md5(cleaned)


def sql_fingerprint(col: str) -> str:
    cleaned = f"regexp_replace({O.sql_norm_text(col)}, '[^a-z0-9 ]', '', 'g')"
    return f"md5({cleaned})"


# -------------------------------------------------------------- minhash

def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle: int = 3,
) -> DataFrame:
    """(id, sig array<long>) per document; docs with < ``shingle``
    tokens are dropped (no shingle set to hash).

    Shape: posexplode tokens -> shingles via lead() window -> one
    hash32 per shingle -> k min-aggs in one hash aggregate. Everything
    after the explode is whole-stage codegen; the lead-window and the
    groupBy share the same hash partitioning on the id, so the whole
    signature costs ONE shuffle of narrow (id, token) rows. (The
    array-HOF formulation — array_min over transform() — is ~7x
    slower: higher-order functions don't codegen.) Duplicate shingles
    don't affect the min, so no distinct pass is needed."""
    params = MINHASH_PARAMS[:num_hashes]
    # NO spread_scan before the shingle stage (round 12, measured):
    # the very next step is a by-id shuffle (the signature aggregate),
    # so a pre-spread only ADDS an exchange of the raw text without
    # removing any downstream one. Interleaved A/B at sf0.1:
    # minhash_signatures 0.96 s min without vs 1.17 s with the spread;
    # minhash_lsh_candidates 2.30 vs 3.04.
    sh = shingle_rows(df, text_col, id_col, shingle)
    hashed = sh.select(id_col, hash32(F.col("_s")).alias("_h"))
    # ONE array-valued aggregate expression, parsed ONCE (round 13,
    # VERDICT r12 ask #2): the k per-permutation ``min`` aggregates
    # used to be k separate ``F.expr`` parses plus a separate
    # array-assembly Project — k+1 parser round-trips of pure
    # plan-build latency per signature subtree (the build-latency
    # cost class the lang-id module documents). Catalyst extracts the
    # k aggregates out of the array() constructor, so the physical
    # aggregate is IDENTICAL (same partial/final min aggregates, same
    # values bit-for-bit — A/B checked collect()-equal at sf0.01);
    # only the parse count changes. Measured (same-session
    # interleaved, sf0.1): signature build 0.27 s -> 0.16 s median,
    # end-to-end signature noop 1.01 -> 0.86 s median.
    arr = ", ".join(
        f"min(({a} * _h + {b}) % {MINHASH_PRIME})" for a, b in params
    )
    return hashed.groupBy(id_col).agg(F.expr(f"array({arr})").alias("sig"))


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, shingle: int
) -> DataFrame:
    """(id, _s) rows of n-word shingles — same multiset as the
    array-HOF ``word_shingles`` but codegen-friendly.

    Round 12 (guide §2.4): built by carrying the token ARRAY through
    ``posexplode`` and reading neighbors with O(1) ``element_at``,
    entirely inside one whole-stage-codegen narrow stage. The previous
    ``lead()``-window formulation forced an Exchange + per-doc SORT of
    every token row before any consumer (the window needs clustering
    by id and ordering by position — information the generator already
    had); this shape has no shuffle at all, so a downstream per-id
    aggregate (minhash_signature) pays exactly ONE exchange and no
    sort. Positions past the last full shingle are filtered by bounds
    check instead of a lead-null sentinel — identical row multiset."""
    tok = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col), F.col("_t"), F.posexplode("_t").alias("_pos", "_tk")
    )
    parts = [F.element_at("_t", F.col("_pos") + 1 + j) for j in range(shingle)]
    return (
        tok.filter(F.col("_pos") + shingle <= F.size("_t"))
        .select(F.col(id_col), F.concat_ws(" ", *parts).alias("_s"))
    )


def minhash_bands(
    sig_df: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature into (id, band_id, band_key) rows; band_key
    is the comma-joined slice of the signature."""
    rows = num_hashes // bands
    entries = F.expr(
        "array("
        + ", ".join(
            f"struct({j} AS band_id, "
            f"array_join(transform(slice(sig, {j * rows + 1}, {rows}), "
            f"x -> cast(x AS string)), ',') AS band_key)"
            for j in range(bands)
        )
        + ")"
    )
    return sig_df.select(id_col, F.explode(entries).alias("b")).select(
        id_col, "b.band_id", "b.band_key"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    shingle: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing at least
    one LSH band.

    Shape: band rows group into per-bucket sorted id ARRAYS (one
    shuffle on (band_id, band_key)), and pairs are generated locally
    inside each bucket with array HOFs — no self-join, so the
    signature subtree is computed ONCE instead of once per join side
    (the former a/b self-join + bucket-count pre-join evaluated it up
    to 4x; exchange reuse is not guaranteed across an aggregate
    boundary). Three shuffles total: signature, bucket group, pair
    distinct. Pair blow-up is quadratic in bucket size exactly as the
    join formulation was — cap pathological boilerplate buckets with
    ``max_bucket`` at scale (what production dedup pipelines do)."""
    sig = minhash_signature(df, text_col, id_col, num_hashes, shingle)
    band = minhash_bands(sig, id_col, num_hashes, bands)
    buckets = band.groupBy("band_id", "band_key").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    buckets = buckets.filter(F.size("_ids") >= 2)
    pair_structs = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )


def _sql_minhash_sig_cte(
    table: str, text_col: str, id_col: str, num_hashes: int, shingle: int
) -> str:
    params = MINHASH_PARAMS[:num_hashes]
    toks = O.sql_tokens(text_col)
    shingles = O.sql_word_shingles("t", shingle)
    perms = ", ".join(O.sql_minhash_perm("h", a, b) for a, b in params)
    return f"""
        _tok AS (SELECT {id_col}, {toks} AS t FROM {table}),
        _sh AS (SELECT {id_col}, list_distinct({shingles}) AS s FROM _tok),
        _hs AS (SELECT {id_col}, list_transform(s, x -> {O.sql_hash32('x')}) AS h
                FROM _sh WHERE len(s) > 0),
        _sig AS (SELECT {id_col}, [{perms}] AS sig FROM _hs)
    """


def minhash_signature_oracle_sql(
    table: str,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle: int = 3,
) -> str:
    """Oracle flattens the signature to (id, pos, minhash) rows (arrays
    don't hash portably through the driver's comparator)."""
    cte = _sql_minhash_sig_cte(table, text_col, id_col, num_hashes, shingle)
    return f"""
        WITH {cte}
        SELECT {id_col}, i AS pos, sig[i + 1] AS minhash
        FROM _sig CROSS JOIN (SELECT unnest(range(0, {num_hashes})) AS i)
    """


def minhash_lsh_pairs_oracle_sql(
    table: str,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    shingle: int = 3,
) -> str:
    rows = num_hashes // bands
    cte = _sql_minhash_sig_cte(table, text_col, id_col, num_hashes, shingle)
    return f"""
        WITH {cte},
        _band AS (
          SELECT {id_col}, j AS band_id,
                 array_to_string(sig[j * {rows} + 1 : j * {rows} + {rows}], ',') AS band_key
          FROM _sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS j)
        )
        SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
        FROM _band a JOIN _band b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.{id_col} < b.{id_col}
    """


# -------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle: int = 3,
    candidates: DataFrame | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word-shingle sets. With
    ``candidates`` (id_a, id_b) this verifies only those pairs (the
    scale path, fed from :func:`minhash_lsh_pairs`); without it, an
    O(n^2) self-join, size-gated at
    :data:`~python_plugins_spark.operators.similarity.PAIRWISE_MAX_ROWS`
    (override with ``max_rows``) — point big corpora at the LSH
    candidate path instead."""
    base = df
    if candidates is None:
        from python_plugins_spark.operators.similarity import (
            PAIRWISE_MAX_ROWS,
            _gate_pairwise,
        )

        _gate_pairwise(
            df, id_col, "ngram_jaccard_pairs (candidates=None)",
            "minhash_lsh_pairs candidates + ngram_jaccard_pairs(candidates=...)",
            max_rows if max_rows is not None else PAIRWISE_MAX_ROWS,
        )
    if candidates is not None:
        # the candidate frame is consumed three times (two id sides +
        # the pair join); a lazy cache() still recomputes the upstream
        # LSH pipeline per consumer when all three scans land in one
        # job, so materialize it eagerly — the standard barrier any
        # multi-consumer iterative pipeline pays once
        candidates = candidates.cache()
        candidates.count()
        # compute shingle arrays only for docs that appear in a
        # candidate pair — at scale the candidate set is a tiny
        # fraction of the corpus
        ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = df.join(ids, on=id_col, how="left_semi")
    sh = base.select(
        F.col(id_col),
        F.array_distinct(word_shingles(tokens(F.col(text_col)), shingle)).alias("s"),
    ).filter(F.size("s") > 0)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b"))
    if candidates is not None:
        pairs = candidates.join(a, on="id_a").join(b, on="id_b")
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = F.size(F.array_union("s_a", "s_b")).cast("double")
    jac = inter / union
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_oracle_sql(
    table: str, text_col: str, id_col: str, threshold: float, shingle: int = 3
) -> str:
    """Exact all-pairs Jaccard, computed via an inverted-index
    equi-join instead of a literal CROSS JOIN: pairs sharing zero
    shingles have jaccard 0 and can never reach a positive threshold,
    so grouping the shingle self-join by pair is value-identical to
    the O(n^2) form while keeping the oracle itself tractable. Still
    fully independent of the Spark side's MinHash/LSH machinery —
    recall of the LSH candidate stage is proven by the hash match, not
    assumed."""
    toks = O.sql_tokens(text_col)
    shingles = O.sql_word_shingles("t", shingle)
    return f"""
        WITH _tok AS (SELECT {id_col}, {toks} AS t FROM {table}),
        _sh AS (SELECT {id_col}, list_distinct({shingles}) AS s FROM _tok),
        _nz AS (SELECT * FROM _sh WHERE len(s) > 0),
        _ex AS (SELECT {id_col} AS id, unnest(s) AS g FROM _nz),
        _int AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM _ex a JOIN _ex b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        ),
        _n AS (SELECT {id_col} AS id, len(s) AS n FROM _nz),
        _pairs AS (
          SELECT i.id_a, i.id_b,
                 round(i.inter::DOUBLE / (la.n + lb.n - i.inter)::DOUBLE, 6) AS jaccard
          FROM _int i JOIN _n la ON la.id = i.id_a JOIN _n lb ON lb.id = i.id_b
        )
        SELECT id_a, id_b, jaccard FROM _pairs WHERE jaccard >= {threshold}
    """


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """DIRECTIONAL n-gram containment |A∩B| / |A| — catches the
    subset-duplicate that symmetric Jaccard misses (a paragraph
    wholesale-copied into a longer page scores ~1.0 containment but low
    Jaccard). Asymmetric: both (a,b) and (b,a) are scored.

    Candidate generation is EXACT prefix filtering (Bayardo/Chaudhuri
    "Scaling Up All Pairs Similarity Search" / PPJoin): order each
    document's shingles rarest-first (document frequency asc, shingle
    asc); if containment(A→B) >= t then among A's first
    |A|-ceil(t*|A|)+1 shingles at least one must appear in B — so
    joining only A-prefix shingles against the full inverted index
    loses no qualifying pair. Rare-first ordering means frequent
    shingles almost never land in a prefix, bounding the candidate
    blow-up that a naive shingle-inverted-index join would hit on
    boilerplate. Shuffles: explode->df-count (one), prefix window
    (partitioned by doc), candidate equi-join on shingle, verify join —
    all key-partitioned; nothing is all-pairs and nothing transits the
    driver. Pass ``candidates`` (id_a, id_b) to skip generation and
    verify an externally-supplied pair set instead."""
    sh = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(tokens(F.col(text_col)), shingle)).alias("s"),
    ).filter(F.size("s") > 0)
    # The shingle-set projection feeds the inverted index, the prefix
    # ranking, and both verify sides — materialize it so the corpus is
    # tokenized/shingled once (localCheckpoint stores MEMORY_AND_DISK
    # and spills rather than recomputes at 100 TB; unlike a bare
    # persist() its blocks release on GC, not at session end).
    sh = sh.transform(stage_checkpoint)
    if candidates is None:
        # n_sh rides through the explode as size(s) — no second
        # per-doc window pass just to count shingles
        tok = sh.select(
            F.col(id_col), F.size("s").alias("n_sh"), F.explode("s").alias("g")
        )
        gdf = tok.groupBy("g").agg(F.count("*").alias("g_df"))
        from pyspark.sql import Window

        w_doc = Window.partitionBy(id_col).orderBy("g_df", "g")
        ranked = tok.join(gdf, on="g").withColumn(
            "rn", F.row_number().over(w_doc)
        )
        # exact integer bound |A| - ceil(t*|A|) + 1: float floor((1-t)*n)
        # under-counts when 1-t rounds down (e.g. t=0.8 -> 0.19999...),
        # which would drop pairs with containment exactly at the
        # threshold; the epsilon keeps ceil from over-rounding exact
        # products like 0.8*5=4.000000000000001
        prefix_len = (
            F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
            + 1
        )
        probe = ranked.filter(F.col("rn") <= prefix_len).select(
            F.col(id_col).alias("id_a"), "g"
        )
        index = tok.select(F.col(id_col).alias("id_b"), "g")
        candidates = (
            probe.join(index, on="g")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b"))
    pairs = candidates.join(a, on="id_a").join(b, on="id_b")
    cont = F.round(
        F.size(F.array_intersect("s_a", "s_b")).cast("double")
        / F.size("s_a").cast("double"),
        6,
    )
    return (
        pairs.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# -------------------------------------------------------------- simhash

# Packed bit-slice accumulation: each SUM accumulates TWO hash bits at
# once — bit j in the low 30-bit field and bit j+30 in the high field of
# one long — so 30 packed sums (plus a count) replace the previous 60
# conditional CASE-WHEN sums. A 30-bit field overflows only past 2^30
# token occurrences in ONE document, which a 2 GB-capped StringType
# cannot produce (each whitespace token costs >= 2 bytes), so the
# packing is overflow-free by construction. Steady-state at sf0.1 this
# is ~2.5x faster than the CASE-WHEN aggregate and its generated code is
# small enough that one-shot (cold-codegen) runs improve ~8x.
_SIMHASH_PACK_MASK = (1) | (1 << 30)  # bits 0 and 30
_SIMHASH_FIELD_MASK = (1 << 30) - 1


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit frequency-weighted SimHash per document: explode tokens,
    one hash60 per token occurrence, per-bit vote, sign -> bit. The
    explode+groupBy is a single map-side-combined hash aggregation
    (whole-stage codegen end to end) — scales linearly in total token
    count with one key-partitioned exchange. The +/-1 vote sum is
    derived, not stored: vote_j = 2*S_j - n where S_j counts set bits,
    so the aggregate carries 30 packed bit-pair sums + one count."""
    # no spread_scan: the exploded tokens feed a by-id shuffle next, so
    # pre-spreading the text only adds an exchange (measured at sf0.1:
    # simhash_signatures 1.05 s min without vs 1.31 s with)
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    tok = tok.select(id_col, hash60(F.col("_t")).alias("_h"))
    half = SIMHASH_BITS // 2
    # Wide expression trees are built as SQL strings (ONE py4j parse
    # per expression) instead of chained Column ops: the Column form
    # costs a JVM round-trip per operator — ~300 round-trips here,
    # ~0.8 s of pure plan-BUILD latency per query run, which dwarfed
    # the aggregate's actual execution.
    sums = [
        F.expr(f"sum(shiftright(_h, {j}) & {_SIMHASH_PACK_MASK}L)").alias(f"_p{j}")
        for j in range(half)
    ] + [F.count("*").alias("_n")]
    bits = tok.groupBy(id_col).agg(*sums)
    terms = []
    for j in range(SIMHASH_BITS):
        if j < half:
            s_j = f"(_p{j} & {_SIMHASH_FIELD_MASK}L)"
        else:
            s_j = f"shiftright(_p{j - half}, 30)"
        # vote sum = 2*S_j - n; bit set iff > 0 (ties -> 0, matching the
        # oracle's sum-of-(+/-1) > 0 convention)
        terms.append(f"(CASE WHEN {s_j} * 2 > _n THEN {1 << j}L ELSE 0L END)")
    value = F.expr(" + ".join(terms))
    return bits.select(id_col, value.alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= d. Candidates share one
    of four 15-bit bands (guarantees recall for d <= 3 by pigeonhole);
    verification is a cheap bit_count(xor)."""
    sh = simhash(df, text_col, id_col)
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                (
                    F.shiftright(F.col("simhash"), j * SIMHASH_BAND_BITS)
                    .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                ).alias("band_val"),
            )
            for j in range(n_bands)
        ]
    )
    band = sh.select(id_col, "simhash", F.explode(entries).alias("b")).select(
        id_col, "simhash", "b.band_id", "b.band_val"
    )
    a = band.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band_id", "band_val"
    )
    b = band.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band_id", "band_val"
    )
    pairs = (
        a.join(b, on=["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _sql_simhash_cte(table: str, text_col: str, id_col: str) -> str:
    toks = O.sql_tokens(text_col)
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
        _tok AS (SELECT {id_col}, unnest({toks}) AS tk FROM {table}),
        _h AS (SELECT {id_col}, {O.sql_hash60('tk')} AS h FROM _tok),
        _bits AS (SELECT {id_col}, {votes} FROM _h GROUP BY {id_col}),
        _sh AS (SELECT {id_col}, {value} AS simhash FROM _bits)
    """


def simhash_oracle_sql(table: str, text_col: str, id_col: str) -> str:
    return f"WITH {_sql_simhash_cte(table, text_col, id_col)} SELECT {id_col}, simhash FROM _sh"


def simhash_pairs_oracle_sql(
    table: str, text_col: str, id_col: str, max_hamming: int = 3
) -> str:
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
        WITH {_sql_simhash_cte(table, text_col, id_col)},
        _band AS (
          SELECT {id_col}, simhash, j AS band_id, (simhash >> (j * {SIMHASH_BAND_BITS})) & {mask} AS band_val
          FROM _sh CROSS JOIN (SELECT unnest(range(0, {n_bands})) AS j)
        ),
        _pairs AS (
          SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
                          a.simhash AS sh_a, b.simhash AS sh_b
          FROM _band a JOIN _band b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.{id_col} < b.{id_col}
        )
        SELECT id_a, id_b, bit_count(xor(sh_a::UBIGINT, sh_b::UBIGINT))::INT AS hamming
        FROM _pairs
        WHERE bit_count(xor(sh_a::UBIGINT, sh_b::UBIGINT)) <= {max_hamming}
    """


# ---------------------------------------------- near-dup clustering

def connected_components(
    edges: DataFrame, vertices: DataFrame, id_col: str, max_iter: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``label(v) <- min(label(v), min over neighbors)`` until fixpoint.

    Each iteration is one distributed shuffle join + aggregate;
    ``localCheckpoint`` truncates the lineage so the plan stays flat
    across iterations. Converges in O(component diameter) rounds —
    near-dup clusters are shallow (stars around a template), so this
    terminates in 2-4 rounds in practice; ``max_iter`` bounds
    pathological chains. At 100 TB the same loop runs unchanged
    (the alternating large-star/small-star optimization halves round
    count but adds no new primitive).

    Returns (id, label) with label = min id of the component.
    """
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .cache()
    )
    # Only vertices touched by an edge can ever change label; isolated
    # vertices keep label = id and are unioned back at the end. After
    # LSH+verify the pair graph is typically orders of magnitude
    # smaller than the corpus, so the iteration frames shrink
    # accordingly — the decisive win at 100 TB (and locally: the
    # convergence-check join runs on the active set, not the corpus).
    active = sym.select(F.col("src").alias("v")).distinct().transform(stage_checkpoint)
    labels = active.select(F.col("v").alias("id"), F.col("v").alias("label"))
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels.id == nbr.src, "left")
            .select(
                labels.id,
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .transform(stage_checkpoint_iterative)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter("n.label <> o.label")
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    isolated = (
        vertices.select(F.col(id_col).alias("id"))
        .join(active.withColumnRenamed("v", "id"), on="id", how="left_anti")
        .select("id", F.col("id").alias("label"))
    )
    return labels.union(isolated)


def neardup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """Full near-dup clustering pipeline: LSH candidates -> exact
    Jaccard verification -> connected components. Returns
    (id_col, cluster_id, is_canonical); downstream dedup keeps the
    canonical (min-id) doc per cluster."""
    candidates = minhash_lsh_pairs(df, text_col, id_col)
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, threshold, shingle=shingle, candidates=candidates
    )
    cc = connected_components(
        pairs.select("id_a", "id_b"), df.select(id_col), id_col
    )
    return cc.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


def neardup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """Cluster-representative selection by QUALITY (the FineWeb-style
    refinement of min-id dedup): near-dup clustering, then each
    cluster keeps its highest-``score_col`` doc (min-id tiebreak) —
    dedup that preserves the best version of duplicated content
    instead of an arbitrary one. Returns
    ``(id_col, cluster_id, score_col, keep)``.

    Scale: clustering cost is :func:`neardup_clusters`; the
    representative choice adds ONE windowed rank over cluster_id (a
    single hash shuffle on cluster ids — clusters are tiny, skew-free
    by construction since candidate generation is bucket-bounded)."""
    from pyspark.sql import Window

    clusters = neardup_clusters(df, text_col, id_col, threshold, shingle)
    scored = clusters.join(df.select(id_col, score_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.select(
        id_col,
        "cluster_id",
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def neardup_clusters_oracle_sql(
    table: str, text_col: str, id_col: str, threshold: float, shingle: int = 3
) -> str:
    """Recursive-CTE oracle: reachability closure over the verified
    Jaccard pair graph, min reachable id per node = cluster id."""
    pairs_sql = ngram_jaccard_pairs_oracle_sql(
        table, text_col, id_col, threshold, shingle
    )
    return f"""
        WITH RECURSIVE
        _jp AS ({pairs_sql}),
        _edges AS (SELECT id_a AS src, id_b AS dst FROM _jp
                   UNION ALL SELECT id_b, id_a FROM _jp),
        _walk(id, lab) AS (
          SELECT {id_col}, {id_col} FROM {table}
          UNION
          SELECT e.src, w.lab FROM _edges e JOIN _walk w ON w.id = e.dst
        )
        SELECT id AS {id_col}, min(lab) AS cluster_id,
               id = min(lab) AS is_canonical
        FROM _walk GROUP BY id
    """


# -------------------------------------- repeated-substring (span) dedup

def repeated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    min_dups: int = 2,
) -> DataFrame:
    """Maximal repeated-substring spans, the scalable relational
    formulation of suffix-array substring dedup (the public
    "Deduplicating Training Data Makes Language Models Better"
    recipe): a token span is REPEATED if every length-``n`` token
    window inside it occurs at least ``min_dups`` times corpus-wide
    (occurrences counted globally, so a doc repeating its own
    boilerplate counts). Returns one row per maximal span:
    ``(id, span_start, span_end, span_tokens)`` with 0-based inclusive
    token positions.

    Shape (all codegen, no UDFs):

    1. n-gram windows with their start positions — element_at over the
       token array carried through posexplode, one narrow codegen
       stage with NO shuffle (round 12, guide §2.4: the former lead()
       window formulation shuffled and SORTED every token row by id
       for ordering information the generator already had);
    2. occurrence count per window hash (map-side-combined aggregate —
       shuffle 1, by hash) filtered to >= min_dups;
    3. semi-join window positions against the repeated-hash set
       (shuffle 3, equi-join on the 60-bit hash — only hash+position
       rows move, never text);
    4. per-doc gaps-and-islands merge: windows at positions p cover
       [p, p+n-1]; runs of overlapping/adjacent windows coalesce into
       one span via a running-max-end window + cumulative island id
       (shuffle 4, by id — AQE coalesces; at 100 TB a repartition(id)
       after step 3 lets steps 4's two windows and the final group
       share one exchange).

    The n-gram window length trades recall for cost exactly as in the
    suffix-array original: spans shorter than ``n`` tokens are not
    detected; every repeated span >= n tokens is found exactly (no
    probabilistic step — hash collisions aside, and the 60-bit gram
    hash keeps those negligible even at 100 TB gram counts: ~10^11
    distinct grams collide with probability ~0.4 %, and a collision
    here only ever ADDs a span, never deletes unshared text).

    """
    # no spread_scan: the gram stream shuffles by hash immediately
    # after, so a pre-spread is a pure extra exchange (measured:
    # mask_repeated_spans 2.24 s min without vs 2.38 s with;
    # cross_doc_span_dedup 2.55 vs 2.80)
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col), F.col("_t"), F.posexplode("_t").alias("_pos", "_tk")
    )
    parts = [F.element_at("_t", F.col("_pos") + 1 + j) for j in range(n)]
    grams = (
        base.filter(F.col("_pos") + n <= F.size("_t"))
        .select(
            F.col(id_col),
            F.col("_pos"),
            hash60(F.concat_ws(" ", *parts)).alias("_h"),
        )
    )
    # The gram frame (one narrow row per token: id, pos, 60-bit hash)
    # feeds both the occurrence count and the repeated-position
    # semi-join; materialize it so the tokenize + gram-hash pass runs
    # once, not once per consumer (localCheckpoint: blocks release
    # on GC, not at session end).
    grams = grams.transform(stage_checkpoint)
    hot = (
        grams.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_dups)
        .select("_h")
    )
    rep = grams.join(hot, on="_h", how="leftsemi").select(
        id_col, F.col("_pos").alias("_start"), (F.col("_pos") + (n - 1)).alias("_end")
    )
    return _merge_windows_to_spans(rep, id_col)


def _merge_windows_to_spans(rep: DataFrame, id_col: str) -> DataFrame:
    """Per-doc gaps-and-islands merge of (id, _start, _end) windows
    into maximal spans ``(id, span_start, span_end, span_tokens)`` —
    shared by the within-corpus span detector and the cross-document
    span remover (running-max-end window + cumulative island id)."""
    from pyspark.sql import Window

    wd = Window.partitionBy(id_col).orderBy("_start")
    prev_max_end = F.max("_end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = rep.withColumn(
        "_new_island",
        F.when(
            prev_max_end.isNull() | (F.col("_start") > prev_max_end + 1), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new_island").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(F.min("_start").alias("span_start"), F.max("_end").alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def repeated_ngram_spans_oracle_sql(
    table: str, text_col: str, id_col: str, n: int = 10, min_dups: int = 2
) -> str:
    """DuckDB twin: identical tokenization, hash, counting, and
    gaps-and-islands merge (positions via the list-comprehension
    index, 0-based to match posexplode)."""
    toks = O.sql_tokens(text_col)
    return f"""
        WITH _tok AS (SELECT {id_col}, {toks} AS t FROM {table}),
        _grams AS (
          SELECT {id_col}, u.g['p'] AS p, {O.sql_hash60("u.g['s']")} AS h
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1,
                             's': array_to_string(t[i : i + {n - 1}], ' ')}}
                           for i in range(1, len(t) - {n - 2})]) AS g
            FROM _tok WHERE len(t) >= {n}
          ) u
        ),
        _hot AS (SELECT h FROM _grams GROUP BY h HAVING count(*) >= {min_dups}),
        _rep AS (
          SELECT {id_col}, p AS s, p + {n - 1} AS e
          FROM _grams WHERE h IN (SELECT h FROM _hot)
        ),
        _flag AS (
          SELECT {id_col}, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                      OR s > max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                 THEN 1 ELSE 0 END AS ni
          FROM _rep
        ),
        _isl AS (
          SELECT {id_col}, s, e,
                 sum(ni) OVER (PARTITION BY {id_col} ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM _flag
        )
        SELECT {id_col}, min(s) AS span_start, max(e) AS span_end,
               max(e) - min(s) + 1 AS span_tokens
        FROM _isl GROUP BY {id_col}, island
    """


def mask_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    min_dups: int = 2,
) -> DataFrame:
    """Boilerplate removal: re-emit each document with every repeated
    span (per :func:`repeated_ngram_spans`, same ``n``/``min_dups``)
    dropped from its token stream — the span-level analogue of C4's
    sentence-level global dedup, removing ALL occurrences (use the
    spans frame directly for keep-one-canonical policies). Returns
    ``(id, clean_text, n_tokens, n_removed)``.

    Shape: spans explode to their covered positions (span lengths are
    bounded by document token counts, so the explode is linear in
    removed tokens), anti-join the (id, pos) token stream — one
    hash-partitioned join on id — then an order-preserving
    re-assembly: concat_ws over the position-sorted surviving tokens
    via a struct-sorted collect_list (the same reassembly the
    sentence-dedup pipeline uses). Removed-token accounting rides
    along for the pipeline's yield report."""
    # the span detector re-tokenizes with the no-shuffle array-carry
    # gram builder (round 12); this row-shaped token frame only feeds
    # the single anti-join below, so no eager checkpoint (guide §5)
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tk")
    )
    spans = repeated_ngram_spans(df, text_col, id_col, n=n, min_dups=min_dups)
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence("span_start", "span_end")).alias("_pos"),
    )
    kept = tok.join(covered, on=[id_col, "_pos"], how="left_anti")
    assembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_tk")))
            ).alias("_ordered"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.expr("transform(_ordered, x -> x._tk)")
            ).alias("clean_text"),
            F.size("_ordered").cast("long").alias("n_tokens"),
        )
    )
    totals = df.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("long").alias("_total")
    )
    zero = F.lit(0).cast("long")
    return (
        totals.join(assembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            (F.col("_total") - F.coalesce("n_tokens", zero)).alias("n_removed"),
        )
    )


def mask_repeated_spans_oracle_sql(
    table: str, text_col: str, id_col: str, n: int = 10, min_dups: int = 2
) -> str:
    """DuckDB twin: same spans CTE, token positions filtered by span
    coverage with list ops, order preserved by construction."""
    toks = O.sql_tokens(text_col)
    toks_t = O.sql_tokens(f"t.{text_col}")
    spans = repeated_ngram_spans_oracle_sql(table, text_col, id_col, n, min_dups)
    return f"""
        WITH _spans AS ({spans}),
        _cov AS (
          SELECT {id_col}, unnest(range(span_start, span_end + 1)) AS p
          FROM _spans
        ),
        _tok AS (
          SELECT {id_col}, g['p'] AS p, g['tk'] AS tk
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1, 'tk': tt[i]}}
                           for i in range(1, len(tt) + 1)]) AS g
            FROM (SELECT {id_col}, {toks} AS tt FROM {table})
          )
        ),
        _kept AS (
          SELECT k.{id_col}, k.p, k.tk
          FROM _tok k
          WHERE NOT EXISTS (
            SELECT 1 FROM _cov c
            WHERE c.{id_col} = k.{id_col} AND c.p = k.p
          )
        ),
        _asm AS (
          SELECT {id_col},
                 array_to_string(list(tk ORDER BY p), ' ') AS clean_text,
                 count(*) AS n_tokens
          FROM _kept GROUP BY {id_col}
        )
        SELECT t.{id_col},
               coalesce(a.clean_text, '') AS clean_text,
               coalesce(a.n_tokens, 0) AS n_tokens,
               len({toks_t}) - coalesce(a.n_tokens, 0) AS n_removed
        FROM {table} t LEFT JOIN _asm a ON t.{id_col} = a.{id_col}
    """


def cross_doc_span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
) -> DataFrame:
    """CROSS-document substring dedup with span REMOVAL — the Lee et
    al. "Deduplicating Training Data" step real pretraining pipelines
    run between exact and fuzzy dedup: a >= ``n``-token span shared by
    two or more DOCUMENTS keeps exactly ONE occurrence (the first, in
    (id, position) order) and every other occurrence is cut out of its
    document, with order-preserving reassembly. Differs from
    :func:`mask_repeated_spans` on both axes the name implies: the
    duplication condition is DISTINCT-DOCUMENT count >= 2 (a document
    repeating its own boilerplate is untouched here — that is the
    within-doc operator's job), and the policy is keep-one-canonical
    (mask_repeated_spans removes ALL occurrences). Returns
    ``(id, clean_text, n_tokens, n_removed)``.

    Shape (all codegen, no UDFs, no cross join):

    1. n-gram windows with positions (lead() over the exploded token
       stream — shuffle by id);
    2. per-hash stats in ONE map-side-combinable aggregate pass:
       distinct-doc count (two-phase) + the minimum occurrence key
       (canonical = argmin of id*2^32+pos — an ARITHMETIC key so the
       DuckDB oracle orders identically with zero struct-comparison
       subtleties; ids must fit 31 bits and positions 32, refused
       loudly). No per-hash window sort, so a degenerate boilerplate
       hash with millions of occurrences costs an aggregate combine,
       never a single-task sort;
    3. every occurrence of a cross-doc hash EXCEPT the canonical one
       becomes a removal window (equi-join on the 60-bit hash —
       wide enough that a collision deleting UNRELATED text is
       negligible even at 100 TB gram counts, unlike a 32-bit key
       whose 2^32 space saturates at ~100 MB of corpus);
    4. gaps-and-islands merge per doc (shared _merge_windows_to_spans),
       explode covered positions, anti-join the token stream, reorder-
       preserving reassembly — the mask_repeated_spans mechanics.

    Overlap policy: a token is removed if ANY non-canonical hot window
    covers it — deterministic and oracle-replayed; when two shared
    spans overlap in one document, the union of their non-canonical
    coverage is cut."""
    from pyspark.sql import Window

    # tok only feeds the single reassembly anti-join now (the gram
    # builder re-tokenizes shuffle-free) -> no eager checkpoint
    tok = _span_tok_frame(df, text_col, id_col, materialize=False)
    grams = _span_gram_frame(df, text_col, id_col, n)
    stats = (
        grams.groupBy("_h")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min("_k").alias("_first"),
        )
        .filter(F.col("_nd") >= 2)
        .select("_h", "_first")
    )
    rm = (
        grams.join(stats, on="_h")
        .filter(F.col("_k") != F.col("_first"))
        .select(
            id_col,
            F.col("_pos").alias("_start"),
            (F.col("_pos") + (n - 1)).alias("_end"),
        )
    )
    return _remove_spans_and_reassemble(df, tok, rm, text_col, id_col)


def _span_tok_frame(
    df: DataFrame, text_col: str, id_col: str, materialize: bool = True
) -> DataFrame:
    """(id, _pos, _tk) token stream — the anti-join/reassembly side of
    the span removers (the gram builder re-tokenizes with the
    shuffle-free array-carry shape since round 12). ``materialize``
    keeps the eager checkpoint only where two consumers exist
    (guide §5: caching is only worth it when a frame is REUSED — a
    single-consumer checkpoint is a pure extra pass plus
    executor-memory pressure)."""
    out = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tk"),
    )
    return out.transform(stage_checkpoint) if materialize else out


def _span_gram_frame(
    df: DataFrame, text_col: str, id_col: str, n: int, materialize: bool = True
) -> DataFrame:
    """(id, _pos, _h, _k) n-gram windows over ``df``'s text: _h the
    60-bit gram hash (NOT 32-bit: here a collision makes two unrelated
    n-grams look cross-document-duplicated and silently deletes
    legitimate text, so the keyspace must outlive corpus-scale gram
    counts), _k the arithmetic canonical key id*2^32+pos (31-bit id
    bound refused loudly — violated ids would silently collide).

    Round 12 (guide §2.4): grams come from element_at over the token
    array carried through posexplode — one narrow codegen stage, no
    shuffle. The former lead()-window formulation consumed the shared
    row-shaped token frame but paid an Exchange + per-doc SORT of the
    whole token stream for ordering the generator already had;
    re-tokenizing here is a narrow recompute, strictly cheaper than
    that shuffle, and the reassembly legs keep their own row frame."""
    key = F.expr(
        f"CASE WHEN {id_col} < 0 OR {id_col} >= 2147483648 THEN "
        f"raise_error('span dedup: {id_col} exceeds the 31-bit "
        "canonical-key bound') "
        f"ELSE CAST({id_col} AS BIGINT) * 4294967296 + CAST(_pos AS BIGINT) "
        "END"
    )
    # no spread_scan (same measured rationale as repeated_ngram_spans:
    # the gram stream shuffles by hash right after; a pre-spread adds
    # an exchange — incremental_span_dedup 4.64 s min without vs 6.36 s
    # with at sf0.1)
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col), F.col("_t"), F.posexplode("_t").alias("_pos", "_tk")
    )
    parts = [F.element_at("_t", F.col("_pos") + 1 + j) for j in range(n)]
    out = (
        base.filter(F.col("_pos") + n <= F.size("_t"))
        .select(
            F.col(id_col),
            F.col("_pos"),
            hash60(F.concat_ws(" ", *parts)).alias("_h"),
            key.alias("_k"),
        )
    )
    # feeds stats agg + removal join at the multi-consumer sites;
    # single-consumer callers (index build / append leg) skip the pass
    return out.transform(stage_checkpoint) if materialize else out


def _remove_spans_and_reassemble(
    df: DataFrame,
    tok: DataFrame,
    rm: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Islands-merge the (id, _start, _end) removal windows, cut the
    covered positions from the token stream, reassemble in order, and
    account removed tokens: ``(id, clean_text, n_tokens, n_removed)``."""
    spans = _merge_windows_to_spans(rm, id_col)
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence("span_start", "span_end")).alias("_pos"),
    )
    kept = tok.join(covered, on=[id_col, "_pos"], how="left_anti")
    assembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_tk")))
            ).alias("_ordered"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.expr("transform(_ordered, x -> x._tk)")
            ).alias("clean_text"),
            F.size("_ordered").cast("long").alias("n_tokens"),
        )
    )
    totals = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("_total"),
    )
    zero = F.lit(0).cast("long")
    return (
        totals.join(assembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            (F.col("_total") - F.coalesce("n_tokens", zero)).alias("n_removed"),
        )
    )


def span_index_build(
    df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    n: int = 10,
) -> None:
    """Persist the gram-hash index of an admitted (already span-
    deduplicated) corpus as a Delta table: one (hash, first_key) row
    per DISTINCT n-gram window, first_key the arithmetic (id, pos)
    canonical. SIZE IS THE METHOD'S: O(corpus tokens) — the same
    class as the on-disk suffix array the Lee et al. pipeline builds
    (~8 bytes/token there; ~12 here), Delta-backed and equi-join
    pruned by hash. The GRAM-HASH WIDTH is part of the index format:
    a meta table records it, and ingest refuses an index whose width
    differs from the library's (a silent mismatch would zero-match
    the equi-join and re-admit every indexed duplicate as novel)."""
    from python_plugins_spark.sources.delta_py import write_delta

    spark = df.sparkSession
    # single-consumer chain grams -> aggregate -> write: no eager
    # checkpoints (round 12, guide §5), and no row-shaped token frame
    # at all — the array-carry gram builder needs none
    grams = _span_gram_frame(df, text_col, id_col, n, materialize=False)
    idx = grams.groupBy("_h").agg(F.min("_k").alias("first_k"))
    write_delta(idx, f"{index_path}/grams", mode="overwrite")
    write_delta(
        spark.createDataFrame(
            [(SPAN_GRAM_HASH_BITS, n)], "gram_hash_bits int, n int"
        ),
        f"{index_path}/meta",
        mode="overwrite",
    )


def span_index_ingest(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    n: int = 10,
    append: bool = True,
) -> DataFrame:
    """CONTINUOUS-ingestion cross-document span dedup — the
    incremental variant of :func:`cross_doc_span_dedup`, completing
    the ingest family (exact Delta state, MinHash index, perceptual
    fingerprint index): a new batch's >= ``n``-token spans are cut
    wherever the gram is ALREADY IN the corpus index (the canonical
    occurrence lives in the admitted corpus — every batch occurrence
    is removed), and batch-INTERNAL cross-document spans keep their
    first (id, pos) occurrence exactly as the batch operator does.
    Cleaned documents are returned ``(id, clean_text, n_tokens,
    n_removed)``; with ``append`` the CLEANED text's grams join the
    index atomically (re-tokenizing the cleaned batch — per-batch
    cost stays O(batch), never O(corpus)).

    Per-batch plan: one shuffle-free tokenize + gram hash pass, one
    equi-join against the index on the 60-bit hash (batch side tiny;
    at scale Delta file pruning on the hash column bounds the index
    scan), one map-side-combinable stats aggregate for the
    batch-internal condition, the shared islands/reassembly shape,
    and one aggregate + anti-join for the index append."""
    from python_plugins_spark.sources.delta_py import read_delta, write_delta

    spark = new_docs.sparkSession
    # a MISSING meta table means a pre-versioning index (width
    # unknown -> refuse below with the rebuild message); any other
    # read failure (bad path, permissions, corrupt log) PROPAGATES —
    # swallowing it would misreport a real I/O error as a format
    # mismatch and discard the actual diagnostic
    import os as _os

    if _os.path.isdir(_os.path.join(index_path, "meta", "_delta_log")):
        meta = read_delta(spark, f"{index_path}/meta").collect()[0]
        idx_bits = meta["gram_hash_bits"]
    else:
        idx_bits = None
    if idx_bits != SPAN_GRAM_HASH_BITS:
        detail = (
            "has no meta table (either a pre-versioning index or a "
            "wrong index_path)"
            if idx_bits is None
            else f"was built with gram_hash_bits={idx_bits}"
        )
        raise ValueError(
            f"span index at {index_path} {detail}; this library uses "
            f"gram_hash_bits={SPAN_GRAM_HASH_BITS}, and a width "
            "mismatch silently zero-matches the gram equi-join (every "
            "indexed duplicate re-admitted as novel) — rebuild the "
            "index with span_index_build"
        )
    # tok only feeds the single reassembly anti-join (round 12) ->
    # no eager checkpoint; the gram builder re-tokenizes shuffle-free
    tok = _span_tok_frame(new_docs, text_col, id_col, materialize=False)
    grams = _span_gram_frame(new_docs, text_col, id_col, n, materialize=False)
    idx = read_delta(spark, f"{index_path}/grams").select(
        F.col("_h").alias("_idx_h")
    )
    # ONE left join against the index instead of a semi + an anti
    # (round 12, guide §2.4/§2.3): the index side is the corpus-sized
    # relation — scanning and shuffling it twice to split the batch
    # grams into known/unknown doubled the dominant per-batch cost.
    # The index holds EXACTLY one row per distinct hash (built by
    # groupBy(_h); appends are left_anti fresh hashes), so the left
    # join cannot multiply rows and the match flag is the semi/anti
    # split. Materialized once; both branches below are narrow filters
    # over it.
    flagged = grams.join(
        idx, grams["_h"] == idx["_idx_h"], how="left"
    ).transform(stage_checkpoint)
    known = flagged.filter(F.col("_idx_h").isNotNull()).select(
        id_col,
        F.col("_pos").alias("_start"),
        (F.col("_pos") + (n - 1)).alias("_end"),
    )
    unknown = flagged.filter(F.col("_idx_h").isNull()).drop("_idx_h")
    stats = (
        unknown.groupBy("_h")
        .agg(
            F.countDistinct(id_col).alias("_nd"),
            F.min("_k").alias("_first"),
        )
        .filter(F.col("_nd") >= 2)
        .select("_h", "_first")
    )
    rm_batch = (
        unknown.join(stats, on="_h")
        .filter(F.col("_k") != F.col("_first"))
        .select(
            id_col,
            F.col("_pos").alias("_start"),
            (F.col("_pos") + (n - 1)).alias("_end"),
        )
    )
    cleaned = _remove_spans_and_reassemble(
        new_docs, tok, known.unionByName(rm_batch), text_col, id_col
    )
    if append:
        # cleaned is consumed twice (the append leg + the caller);
        # the append leg itself is a single-consumer chain grams2 ->
        # aggregate -> anti-join -> write, so none of its
        # intermediates checkpoint (round 12, guide §5)
        cleaned = cleaned.transform(stage_checkpoint)
        grams2 = _span_gram_frame(cleaned, "clean_text", id_col, n, materialize=False)
        fresh = (
            grams2.groupBy("_h")
            .agg(F.min("_k").alias("first_k"))
            .join(idx, F.col("_h") == idx["_idx_h"], how="left_anti")
        )
        write_delta(fresh, f"{index_path}/grams", mode="append")
    return cleaned


def cross_doc_span_dedup_oracle_sql(
    table: str, text_col: str, id_col: str, n: int = 10
) -> str:
    """DuckDB twin: identical tokenization, hash, arithmetic canonical
    key, distinct-doc condition, islands merge, coverage anti-join,
    and order-preserving reassembly."""
    toks = O.sql_tokens(text_col)
    toks_t = O.sql_tokens(f"t.{text_col}")
    return f"""
        WITH _tok AS (SELECT {id_col}, {toks} AS t FROM {table}),
        _grams AS (
          SELECT {id_col}, u.g['p'] AS p, {O.sql_hash60("u.g['s']")} AS h,
                 {id_col} * 4294967296 + u.g['p'] AS k
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1,
                             's': array_to_string(t[i : i + {n - 1}], ' ')}}
                           for i in range(1, len(t) - {n - 2})]) AS g
            FROM _tok WHERE len(t) >= {n}
          ) u
        ),
        _stat AS (
          SELECT h, min(k) AS first_k
          FROM _grams GROUP BY h
          HAVING count(DISTINCT {id_col}) >= 2
        ),
        _rm AS (
          SELECT g.{id_col}, g.p AS s, g.p + {n - 1} AS e
          FROM _grams g JOIN _stat st ON g.h = st.h
          WHERE g.k <> st.first_k
        ),
        _flag AS (
          SELECT {id_col}, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                      OR s > max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                 THEN 1 ELSE 0 END AS ni
          FROM _rm
        ),
        _isl AS (
          SELECT {id_col}, s, e,
                 sum(ni) OVER (PARTITION BY {id_col} ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM _flag
        ),
        _spans AS (
          SELECT {id_col}, min(s) AS span_start, max(e) AS span_end
          FROM _isl GROUP BY {id_col}, island
        ),
        _cov AS (
          SELECT {id_col}, unnest(range(span_start, span_end + 1)) AS p
          FROM _spans
        ),
        _tokp AS (
          SELECT {id_col}, g['p'] AS p, g['tk'] AS tk
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1, 'tk': tt[i]}}
                           for i in range(1, len(tt) + 1)]) AS g
            FROM (SELECT {id_col}, {toks} AS tt FROM {table})
          )
        ),
        _kept AS (
          SELECT kk.{id_col}, kk.p, kk.tk
          FROM _tokp kk
          WHERE NOT EXISTS (
            SELECT 1 FROM _cov c
            WHERE c.{id_col} = kk.{id_col} AND c.p = kk.p
          )
        ),
        _asm AS (
          SELECT {id_col},
                 array_to_string(list(tk ORDER BY p), ' ') AS clean_text,
                 count(*) AS n_tokens
          FROM _kept GROUP BY {id_col}
        )
        SELECT t.{id_col},
               coalesce(a.clean_text, '') AS clean_text,
               coalesce(a.n_tokens, 0) AS n_tokens,
               len({toks_t}) - coalesce(a.n_tokens, 0) AS n_removed
        FROM {table} t LEFT JOIN _asm a ON t.{id_col} = a.{id_col}
    """


# ---------------------------------------------------------------------
# Persisted incremental MinHash index (round 4): the PRODUCTION shape
# of corpus dedup. A 100 TB corpus is not deduplicated once — it is
# INGESTED, batch after batch, and each batch must be checked against
# everything already admitted without recomputing the corpus. The
# index is two Delta tables (ACID appends; the engine's own layer):
#
#   <path>/bands : (id, band_id, band_key)  — the LSH candidate keys
#   <path>/sigs  : (id, sig array<long>)    — for signature-estimate
#                                             verification of candidates
#
# Ingest = band equi-join of the new batch against the index (never a
# scan of admitted TEXT), signature-agreement verification (>= m of k
# minhashes equal — integer compare, engine-portable), duplicates
# rejected, survivors' bands+sigs appended atomically. Each batch's
# cost is O(batch x matched buckets), independent of corpus size.
# ---------------------------------------------------------------------


def minhash_index_build(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    shingle: int = 3,
) -> None:
    """Build (overwrite) the persisted index from an already-deduped
    base corpus."""
    from python_plugins_spark.sources.delta_py import write_delta

    sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle)
    sig = sig.transform(stage_checkpoint)  # bands + sigs share one pass
    band_rows = minhash_bands(sig, id_col, num_hashes, bands)
    write_delta(band_rows, f"{index_path}/bands", mode="overwrite")
    write_delta(sig, f"{index_path}/sigs", mode="overwrite")


def minhash_index_ingest(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    min_matches: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    shingle: int = 3,
    append: bool = True,
    dedup_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Check a new batch against the index; returns ``(admitted,
    duplicates)`` where duplicates is (id, dup_of, matches) — dup_of
    the smallest admitted id agreeing on >= ``min_matches`` of the
    ``num_hashes`` minhashes (the signature estimate of Jaccard;
    integer threshold, engine-portable). With ``append`` the
    survivors' bands and signatures join the index atomically
    (per-table ACID appends).

    ``dedup_batch=True`` first removes INTRA-batch duplicates (same
    band join + signature agreement WITHIN the batch, min-id survivor
    per duplicate group's edge), so a batch containing its own copies
    admits exactly one; otherwise the batch is assumed internally
    deduped."""
    from python_plugins_spark.sources.delta_py import read_delta, write_delta

    spark = new_docs.sparkSession
    sig_new = minhash_signature(
        new_docs, text_col, id_col, num_hashes, shingle
    ).transform(stage_checkpoint)
    bands_new = minhash_bands(sig_new, id_col, num_hashes, bands)

    if dedup_batch:
        # intra-batch pass: candidates from the batch's own bands,
        # verified by the same m-of-k agreement; losers (larger id of
        # a verified pair) drop before the index check
        intra = (
            bands_new.alias("a")
            .join(
                bands_new.alias("b"),
                on=[
                    F.col("a.band_id") == F.col("b.band_id"),
                    F.col("a.band_key") == F.col("b.band_key"),
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .select(
                F.col(f"a.{id_col}").alias("_ka"),
                F.col(f"b.{id_col}").alias("_kb"),
            )
            .distinct()
            .join(
                sig_new.select(F.col(id_col).alias("_ka"),
                               F.col("sig").alias("_sa")),
                on="_ka",
            )
            .join(
                sig_new.select(F.col(id_col).alias("_kb"),
                               F.col("sig").alias("_sb")),
                on="_kb",
            )
            .withColumn(
                "_m",
                F.expr(
                    "size(filter(zip_with(_sa, _sb, (x, y) -> x = y), z -> z))"
                ),
            )
            .filter(F.col("_m") >= min_matches)
            .select(F.col("_kb").alias(id_col))
            .distinct()
        )
        sig_new = sig_new.join(intra, on=id_col, how="left_anti")
        sig_new = sig_new.transform(stage_checkpoint)
        bands_new = minhash_bands(sig_new, id_col, num_hashes, bands)
        new_docs = new_docs.join(intra, on=id_col, how="left_anti")

    idx_bands = read_delta(spark, f"{index_path}/bands")
    idx_sigs = read_delta(spark, f"{index_path}/sigs")

    cands = (
        bands_new.alias("n")
        .join(
            idx_bands.alias("i"),
            on=[
                F.col(f"n.band_id") == F.col("i.band_id"),
                F.col("n.band_key") == F.col("i.band_key"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("_new_id"),
            F.col(f"i.{id_col}").alias("_idx_id"),
        )
        .distinct()
    )
    scored = (
        cands.join(
            sig_new.select(
                F.col(id_col).alias("_new_id"), F.col("sig").alias("_sn")
            ),
            on="_new_id",
        )
        .join(
            idx_sigs.select(
                F.col(id_col).alias("_idx_id"), F.col("sig").alias("_si")
            ),
            on="_idx_id",
        )
        .withColumn(
            "matches",
            F.expr("size(filter(zip_with(_sn, _si, (x, y) -> x = y), z -> z))"),
        )
        .filter(F.col("matches") >= min_matches)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_new_id").orderBy(
        F.col("matches").desc(), F.col("_idx_id").asc()
    )
    duplicates = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(
            F.col("_new_id").alias(id_col),
            F.col("_idx_id").alias("dup_of"),
            "matches",
        )
        # a duplicate-per-batch-doc frame is tiny; materialize it once
        # so the admit anti-joins, the index append, and whatever the
        # caller does with it don't each re-run the candidate scoring
        .transform(stage_checkpoint)
    )
    admitted = new_docs.join(
        duplicates.select(id_col), on=id_col, how="left_anti"
    )
    if append:
        adm_sig = sig_new.join(
            duplicates.select(id_col), on=id_col, how="left_anti"
        ).transform(stage_checkpoint)
        write_delta(
            minhash_bands(adm_sig, id_col, num_hashes, bands),
            f"{index_path}/bands", mode="append",
        )
        write_delta(adm_sig, f"{index_path}/sigs", mode="append")
    return admitted, duplicates


def span_index_ingest_oracle_sql(
    base_table: str,
    batch_table: str,
    text_col: str,
    id_col: str,
    n: int = 10,
) -> str:
    """DuckDB twin of build+ingest in one query: the index is the
    DISTINCT gram-hash set of ``base_table``; batch grams found there
    are removed wholesale, batch-internal cross-doc grams keep their
    first (id, pos) occurrence; identical islands merge, coverage
    anti-join, and reassembly."""
    toks = O.sql_tokens(text_col)
    toks_t = O.sql_tokens(f"t.{text_col}")

    def gram_cte(src: str) -> str:
        return f"""
          SELECT {id_col}, u.g['p'] AS p, {O.sql_hash60("u.g['s']")} AS h,
                 {id_col} * 4294967296 + u.g['p'] AS k
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1,
                             's': array_to_string(t[i : i + {n - 1}], ' ')}}
                           for i in range(1, len(t) - {n - 2})]) AS g
            FROM (SELECT {id_col}, {toks} AS t FROM {src})
            WHERE len(t) >= {n}
          ) u
        """

    return f"""
        WITH _bg AS ({gram_cte(base_table)}),
        _idx AS (SELECT DISTINCT h FROM _bg),
        _g AS ({gram_cte(batch_table)}),
        _known AS (
          SELECT g.{id_col}, g.p AS s, g.p + {n - 1} AS e
          FROM _g g WHERE g.h IN (SELECT h FROM _idx)
        ),
        _unk AS (
          SELECT * FROM _g WHERE h NOT IN (SELECT h FROM _idx)
        ),
        _st AS (
          SELECT h, min(k) AS fk FROM _unk GROUP BY h
          HAVING count(DISTINCT {id_col}) >= 2
        ),
        _rmb AS (
          SELECT u.{id_col}, u.p AS s, u.p + {n - 1} AS e
          FROM _unk u JOIN _st st ON u.h = st.h WHERE u.k <> st.fk
        ),
        _rm AS (SELECT * FROM _known UNION ALL SELECT * FROM _rmb),
        _flag AS (
          SELECT {id_col}, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                      OR s > max(e) OVER (PARTITION BY {id_col} ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                 THEN 1 ELSE 0 END AS ni
          FROM _rm
        ),
        _isl AS (
          SELECT {id_col}, s, e,
                 sum(ni) OVER (PARTITION BY {id_col} ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM _flag
        ),
        _spans AS (
          SELECT {id_col}, min(s) AS span_start, max(e) AS span_end
          FROM _isl GROUP BY {id_col}, island
        ),
        _cov AS (
          SELECT {id_col}, unnest(range(span_start, span_end + 1)) AS p
          FROM _spans
        ),
        _tokp AS (
          SELECT {id_col}, g['p'] AS p, g['tk'] AS tk
          FROM (
            SELECT {id_col},
                   unnest([{{'p': i - 1, 'tk': tt[i]}}
                           for i in range(1, len(tt) + 1)]) AS g
            FROM (SELECT {id_col}, {toks} AS tt FROM {batch_table})
          )
        ),
        _kept AS (
          SELECT kk.{id_col}, kk.p, kk.tk
          FROM _tokp kk
          WHERE NOT EXISTS (
            SELECT 1 FROM _cov c
            WHERE c.{id_col} = kk.{id_col} AND c.p = kk.p
          )
        ),
        _asm AS (
          SELECT {id_col},
                 array_to_string(list(tk ORDER BY p), ' ') AS clean_text,
                 count(*) AS n_tokens
          FROM _kept GROUP BY {id_col}
        )
        SELECT t.{id_col},
               coalesce(a.clean_text, '') AS clean_text,
               coalesce(a.n_tokens, 0) AS n_tokens,
               len({toks_t}) - coalesce(a.n_tokens, 0) AS n_removed
        FROM {batch_table} t LEFT JOIN _asm a ON t.{id_col} = a.{id_col}
    """
