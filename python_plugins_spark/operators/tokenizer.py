"""Distributed BPE tokenizer training (the public byte-pair-encoding
algorithm of Sennrich et al. 2016, as used by GPT-2/RoBERTa-style
tokenizers) — corpus mechanics for a training-data pipeline.

Shape, designed for a 100 TB corpus:

1. **Word histogram** (the only pass over the full corpus): tokenize,
   explode, groupBy(word) -> count. One shuffle; everything after
   operates on the DISTINCT-WORD table weighted by count, which is
   vocabulary-sized (~1e6 rows for web-scale corpora), not
   corpus-sized — the reason BPE training is feasible at all.
2. **Merge loop** over the vocabulary-sized table. Since round 12 the
   default runs DRIVER-LOCAL (the HF-tokenizers / SentencePiece
   shape): the weighted distinct-word table is collected once
   (vocabulary-bounded — tens of MB at web scale) and ``num_merges``
   rounds run in driver CPU with incremental pair-count maintenance
   (lazy max-heap + inverted index), so a production 32k-merge
   vocabulary costs ONE Spark job plus seconds of driver time —
   instead of 32k sequential driver-coordinated jobs whose ~0.2-0.5 s
   scheduling floor alone is hours. The round-10 per-round
   distributed loop (one tiny aggregate-argmax + mapInPandas rewrite
   job per merge) is kept as ``merge_loop="distributed"`` — the
   escape hatch for a pathological corpus whose distinct-word table
   exceeds driver memory — and the two paths are pinned bit-identical
   (``test_bpe_local_vs_distributed``; ties broken count desc then
   lexicographically — determinism is part of the contract).

Training output is the ranked merge table; :func:`bpe_encode`
applies learned merges to new text — the PRODUCTION encoder shape
(round 11): tokenize with the same expression as training, encode
each DISTINCT word exactly once with the standard rank-based merge
loop (cost independent of vocabulary size — the GPT-2 encode
algorithm), and join the encoded forms back to the corpus by word.
Zipf's law makes the distinct-word table a tiny fraction of the
corpus token stream, so the Python merge loop runs on ~1% of the
data a per-occurrence encoder would touch.
Verified against a pure-Python reference implementation in
``tests/test_operators.py`` (hand-checkable corpus) AND — since
round 10 — against a full DuckDB oracle (:func:`bpe_train_oracle_sql`
unrolls the bounded merge loop into materialized CTE rounds and
replays the greedy rewrite exactly), so the registry entry is
oracle-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_plugins_spark.functions import tokens
from python_plugins_spark.sources.io import scan_width

_EOW = "</w>"  # end-of-word marker (the standard BPE convention)


def _merge_pair_in_seq(seq: list[str], a: str, b: str) -> list[str]:
    """Left-to-right single-pass merge of adjacent (a, b) -> a+b."""
    out: list[str] = []
    i = 0
    n = len(seq)
    while i < n:
        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


#: Spark expression rendering a word as its UTF-8 byte sequence, each
#: byte a lowercase 2-hex-char token — the BYTE-LEVEL symbol alphabet
#: (GPT-2's representation: no unknown symbols ever, any Unicode word
#: decomposes into at most 256 base tokens). Lowercase matches
#: Python's ``f"{b:02x}"`` and the DuckDB twin's ``lower(hex(...))``.
_BYTE_SYMS_SPARK = (
    "transform(sequence(1, octet_length(w)), "
    "i -> substring(lower(hex(encode(w, 'UTF-8'))), 2*i - 1, 2))"
)


def word_syms(word: str, byte_level: bool) -> list[str]:
    """The initial symbol sequence of one word (shared by the Python
    reference, the rank encoder, and tests): characters, or lowercase
    hex UTF-8 bytes when ``byte_level``; ``</w>`` appended."""
    if byte_level:
        return [f"{b:02x}" for b in word.encode("utf-8")] + [_EOW]
    return list(word) + [_EOW]


def bpe_train(
    df: DataFrame, text_col: str, num_merges: int,
    byte_level: bool = False,
    merge_loop: str = "local",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns
    ``(merges, merges_df)`` — the ranked merge list and its DataFrame
    ``(rank, left, right, merged, pair_count)``. ``byte_level=True``
    trains over UTF-8 byte symbols (lowercase hex pairs) instead of
    characters — the GPT-2 convention, closed under any input: the
    base alphabet is at most 256 symbols and no word is ever
    unrepresentable. The merge loop itself is representation-agnostic
    (symbols are strings either way).

    ``merge_loop`` selects HOW the (identical) merge sequence is
    computed — round 12, the vocabulary-scale fix:

    - ``"local"`` (default — the HF-tokenizers / SentencePiece shape):
      ONE distributed pass aggregates the weighted distinct-word
      table, which is collected to the driver — it is VOCABULARY-
      bounded (~1e6 rows / tens of MB for web-scale corpora; the same
      bounded-through-the-driver stance as ``ivf_train_centroids``) —
      and the merge loop runs driver-local over it with incremental
      pair-count maintenance (lazy max-heap + pair->word inverted
      index, so each merge touches only the words that contain the
      merged pair). Cost: one Spark job TOTAL; a real 32k-merge
      vocabulary trains in seconds of driver CPU instead of ~32k
      sequential Spark jobs of pure scheduling floor.
    - ``"distributed"``: the round-10 loop — one tiny
      aggregate-argmax + rewrite job per merge round over the cached
      vocab table. Kept as the scale escape hatch for a corpus whose
      DISTINCT-WORD table itself exceeds driver memory (no natural-
      language corpus does — Zipf — but e.g. random-id "words" could)
      and as the cross-implementation equivalence baseline
      (``test_bpe_local_vs_distributed`` pins bit-identical merges,
      counts, and DataFrames on both representations).

    Both paths produce bit-identical output: same tie-break (count
    desc, then (left, right) lexicographically asc — Python per-code-
    point string order and Spark's UTF-8 binary order agree because
    UTF-8 preserves code-point order), same exact integer counts."""
    if merge_loop == "local":
        return _bpe_train_local(df, text_col, num_merges, byte_level)
    if merge_loop != "distributed":
        raise ValueError(f"merge_loop must be local|distributed: {merge_loop}")
    spark = df.sparkSession

    syms = (
        F.expr(_BYTE_SYMS_SPARK) if byte_level else F.split(F.col("w"), "")
    )
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(syms, F.array(F.lit(_EOW))).alias("sym"),
            "cnt",
        )
    ).cache()
    n_words = vocab.count()  # materialize once; corpus never rescanned
    # right-size the merge loop's partitioning to the DISTINCT-WORD
    # table (round 11): the loop runs two tiny jobs per round, and at
    # fixture scale a 31-row vocab inherited the aggregate's 32
    # shuffle partitions — 32 near-empty tasks (each paying scheduling
    # + a Python worker round-trip in the rewrite) per job, pure
    # overhead. ~50k symbol rows per partition keeps rewrite batches
    # Arrow-sized at web scale (1e6-word vocab -> ~20 partitions)
    # while a small vocab collapses to one task. Halved the measured
    # per-round cost at sf0.01.
    n_parts = max(1, min(vocab.rdd.getNumPartitions(), n_words // 50_000 + 1))
    if n_parts != vocab.rdd.getNumPartitions():
        old = vocab
        vocab = vocab.coalesce(n_parts).cache()
        vocab.count()
        old.unpersist()

    merges: list[tuple[str, str]] = []
    rows_out = []
    # ONE job per round (round 11; was two): the argmax aggregate of
    # round r is the action that materializes round r's rewritten
    # vocab cache — no separate eager count(). The PREVIOUS round's
    # cache must therefore outlive the rewrite by one round (the lazy
    # new cache recomputes from it on first touch), so unpersist lags
    # one iteration; at most two vocabulary-sized snapshots are
    # resident at any time.
    prev = None
    for rank in range(num_merges):
        pairs = (
            vocab.select(
                F.explode(
                    F.expr(
                        "transform(slice(sym, 1, size(sym) - 1), "
                        "(x, i) -> struct(x AS a, sym[i + 1] AS b))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        # vocab's cache is materialized now — the previous snapshot is
        # no longer reachable by any future computation
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((a, b))
        rows_out.append((rank, a, b, a + b, int(n)))

        def apply_merge(batches, a=a, b=b):
            import pandas as pd

            for pdf in batches:
                pdf["sym"] = [
                    _merge_pair_in_seq(list(s), a, b) for s in pdf["sym"]
                ]
                yield pdf

        new_vocab = vocab.mapInPandas(
            apply_merge,
            T.StructType(
                [
                    T.StructField("sym", T.ArrayType(T.StringType())),
                    T.StructField("cnt", T.LongType()),
                ]
            ),
        ).cache()  # lazy: next round's argmax materializes it
        prev = vocab
        vocab = new_vocab
    if prev is not None:
        prev.unpersist()
    vocab.unpersist()

    merges_df = spark.createDataFrame(
        rows_out,
        "rank int, left string, right string, merged string, pair_count long",
    )
    return merges, merges_df


def _bpe_train_local(
    df: DataFrame, text_col: str, num_merges: int, byte_level: bool
) -> tuple[list[tuple[str, str]], DataFrame]:
    """The ``merge_loop="local"`` body of :func:`bpe_train`: one
    distributed word-count aggregate, then a driver-local incremental
    merge loop (the published HF-tokenizers/SentencePiece algorithm):

    - ``pair_counts``: exact integer count per adjacent symbol pair,
      weighted by word frequency.
    - ``pair_words``: inverted index pair -> set of word indices that
      currently contain it, so a merge round rewrites ONLY the words
      the winning pair occurs in (for natural language a vanishing
      fraction of the vocabulary once the frequent pairs are merged).
    - a LAZY max-heap of ``(-count, a, b)`` entries: every count
      change pushes a fresh entry; stale entries are discarded on pop
      by comparing against the live ``pair_counts`` value. Heap order
      (-n, a, b) ascending IS the contract tie-break (count desc,
      then pair lexicographically asc).

    Per-merge cost is O(words containing the pair x their length),
    independent of both corpus size and merge count — this is what
    makes a production 32k-merge vocabulary train in seconds where
    the per-round Spark loop pays ~32k job-scheduling floors."""
    import heapq
    from collections import Counter

    spark = df.sparkSession
    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )

    seqs: list[list[str]] = []
    cnts: list[int] = []
    for r in rows:
        seqs.append(word_syms(r["w"], byte_level))
        cnts.append(int(r["cnt"]))

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (seq, cnt) in enumerate(zip(seqs, cnts)):
        for p in zip(seq, seq[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_words.setdefault(p, set()).add(idx)
    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    rows_out = []
    for rank in range(num_merges):
        best = None
        while heap:
            negn, a, b = heapq.heappop(heap)
            if pair_counts.get((a, b)) == -negn:
                best = (a, b, -negn)
                break
        if best is None:
            break
        a, b, n = best
        merges.append((a, b))
        rows_out.append((rank, a, b, a + b, n))

        for idx in list(pair_words.get((a, b), ())):
            seq = seqs[idx]
            cnt = cnts[idx]
            new_seq = _merge_pair_in_seq(seq, a, b)
            before = Counter(zip(seq, seq[1:]))
            after = Counter(zip(new_seq, new_seq[1:]))
            for p in before.keys() | after.keys():
                d = after.get(p, 0) - before.get(p, 0)
                if d:
                    nn = pair_counts.get(p, 0) + d * cnt
                    if nn:
                        pair_counts[p] = nn
                        heapq.heappush(heap, (-nn, p[0], p[1]))
                    else:
                        pair_counts.pop(p, None)
                if p != (a, b):
                    ws = pair_words.setdefault(p, set())
                    if after.get(p, 0):
                        ws.add(idx)
                    else:
                        ws.discard(idx)
            seqs[idx] = new_seq
        pair_words.pop((a, b), None)

    merges_df = spark.createDataFrame(
        rows_out,
        "rank int, left string, right string, merged string, pair_count long",
    )
    return merges, merges_df


def _merge_ranks(merges) -> dict:
    """Rank lookup for :func:`_rank_encode_word`. If the merge table
    contains duplicate (left, right) pairs (possible when a later
    merge recreates an earlier pair's adjacency — see the string-
    collision caveat on ``_rank_encode_word``), the FIRST (lowest)
    rank wins: the encoder's argmin over present ranks would always
    select the lower rank anyway, so this makes the behavior
    deterministic and documented instead of dict-insertion-order
    dependent."""
    ranks: dict = {}
    for i, (a, b) in enumerate(merges):
        ranks.setdefault((a, b), i)
    return ranks


def _rank_encode_word(word: str, ranks: dict,
                      byte_level: bool = False) -> list[str]:
    """Standard rank-based BPE encode of ONE word (the GPT-2/tiktoken
    loop): repeatedly find the lowest-rank learned pair PRESENT in the
    sequence and apply it as one greedy left-to-right pass, until no
    learned pair remains. Cost is O(applied_merges * len(word)) —
    INDEPENDENT of vocabulary size, vs O(|all merges| * len(word)) for
    the naive apply-every-merge-in-order loop (~2,500x the work at a
    real 32k-merge vocabulary).

    Equivalence to sequential in-rank-order application (argued below
    and pinned empirically in ``test_bpe_encode_equivalence``): a pair
    learned at rank r is built from tokens that already existed before
    r, and a merge usually cannot create a NEW adjacency between two
    pre-existing tokens (it replaces two adjacent tokens with one
    token created AFTER r at training time, so any pair involving it
    normally has rank > r). CAVEAT (the argument's known gap): two
    DIFFERENT learned merges can produce the SAME token string — e.g.
    ('a','aa') and ('aa','a') both yield 'aaa' — so a later merge can
    recreate a token that participates in a lower-rank learned pair,
    and on such degenerate merge tables this loop and the sequential
    replay can diverge. The equivalence is therefore empirical on
    non-colliding tables (which greedy training on natural text
    produces; the training loop can in principle re-learn a pair whose
    adjacency was recreated, see ``_bpe_train_local``). For
    determinism under duplicate (left, right) pairs, the ranks dict
    keeps the FIRST (lowest) rank — the one the rank-argmin would pick
    anyway — rather than silently keeping the last (see
    :func:`_merge_ranks`)."""
    seq = word_syms(word, byte_level)
    while len(seq) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        seq = _merge_pair_in_seq(seq, seq[best_i], seq[best_i + 1])
    return seq


def bpe_encode(df: DataFrame, text_col: str, id_col: str, merges,
               byte_level: bool = False) -> DataFrame:
    """PRODUCTION corpus encoder: apply learned merges to text,
    returning ``(id_col, pieces array<string>, n_pieces int)``.

    Shape, designed for a 100 TB corpus (round 11 — replaces the
    naive per-occurrence encoder, kept as
    :func:`bpe_encode_reference` for the equivalence test):

    1. ``posexplode(tokens(text))`` — the SAME tokenizer expression as
       training, so every corpus word is in the trained vocabulary by
       construction.
    2. Encode each DISTINCT word exactly once (``distinct`` +
       mapInPandas over the vocabulary-sized word table) with the
       rank-based merge loop (:func:`_rank_encode_word` — cost
       independent of |merges|). Zipf: the top ~10k distinct words
       cover most of the token stream, so this is ~10-100x less
       Python work than encoding every occurrence.
    3. Equi-join the encoded forms back on the word (vocabulary-sized
       build side — AQE broadcasts it at test scale; a plain shuffle
       join at web scale) and reassemble each document's pieces in
       token order with one groupBy.

    Docs whose text tokenizes to zero words still emit a row
    (``pieces = []``) via the final left join from the id spine.
    Reference parity: the reference transform plugin's whole purpose
    is arbitrary per-record Python over records
    (PythonEvaluator.java:262-266); tokenization is the one stage an
    LLM pipeline runs over 100% of its tokens, so it gets the
    engine's best-known form, not a row-at-a-time loop."""
    ranks = _merge_ranks(merges)

    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    ).filter(F.length("w") > 0)

    enc_schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            T.StructField("sym", T.ArrayType(T.StringType())),
        ]
    )

    def encode_distinct(batches, _ranks=ranks, _bl=byte_level):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "sym": [
                        _rank_encode_word(w, _ranks, _bl) for w in pdf["w"]
                    ],
                }
            )

    # Scale-adaptive repartition between the distinct and the encode
    # pass (round 13): AQE coalesces the byte-tiny distinct to ONE
    # partition, so the rank-encode mapInPandas (this operator's only
    # Python CPU) runs single-task — ~30 s of serial Python per encode
    # at a web-scale vocabulary (~1e6 words x ~30 us). It fires only
    # when the INPUT is a scan at least as wide as the cluster
    # (spread_scan's plan-read width, inverted): an unconditional
    # repartition measured a local regression (bpe_encode noop min
    # 1.15 s without vs 1.40 s with at sf0.1), while at corpus scale
    # the vocabulary-bounded exchange is noise.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    encoded = words.select("w").distinct()
    if (scan_width(df) or 0) >= parallelism:
        encoded = encoded.repartition(parallelism)
    encoded = encoded.mapInPandas(encode_distinct, enc_schema)

    assembled = (
        words.join(encoded, "w")
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                    lambda s: s["sym"],
                )
            ).alias("pieces")
        )
    )
    spine = df.select(F.col(id_col).alias("id")).distinct()
    pieces = F.coalesce(
        F.col("pieces"), F.array().cast("array<string>")
    ).alias("pieces")
    return (
        spine.join(assembled, "id", "left")
        .select(F.col("id").alias(id_col), pieces)
        .withColumn("n_pieces", F.size("pieces").cast("int"))
    )


def bpe_encode_reference(
    df: DataFrame, text_col: str, id_col: str, merges
) -> DataFrame:
    """The round-10 naive encoder, kept ONLY as the equivalence
    baseline for :func:`bpe_encode` (``test_bpe_encode_equivalence``):
    per occurrence, applies EVERY learned merge in rank order —
    O(|merges| * len) per word, a scale-killer at a real vocabulary.
    Not exported to any registry query."""
    merge_list = list(merges)

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("pieces", T.ArrayType(T.StringType())),
            T.StructField("n_pieces", T.IntegerType()),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids, pieces_col, counts = [], [], []
            for rid, text in zip(pdf["id"], pdf["text"]):
                pieces: list[str] = []
                for w in str(text).lower().strip().split():
                    seq = list(w) + [_EOW]
                    for a, b in merge_list:
                        seq = _merge_pair_in_seq(seq, a, b)
                    pieces.extend(seq)
                ids.append(rid)
                pieces_col.append(pieces)
                counts.append(len(pieces))
            yield pd.DataFrame(
                {"id": ids, "pieces": pieces_col, "n_pieces": counts}
            )

    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .mapInPandas(encode, out_schema)
        .withColumnRenamed("id", id_col)
    )


def bpe_train_reference(texts: list[str], num_merges: int,
                        byte_level: bool = False):
    """Pure-Python reference implementation (for tests): identical
    tokenization, tie-breaks, and merge semantics."""
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                vocab[tuple(word_syms(w, byte_level))] += 1
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for seq, cnt in vocab.items():
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] += cnt
        if not pairs:
            break
        # deterministic tie-break: highest count, then lexicographically
        # smallest (a, b)
        top_n = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == top_n)
        merges.append(best)
        a, b = best
        vocab = Counter(
            {
                tuple(_merge_pair_in_seq(list(seq), a, b)): cnt
                for seq, cnt in vocab.items()
            }
        )
    return merges


def bpe_train_oracle_sql(table: str, text_col: str, num_merges: int,
                         byte_level: bool = False) -> str:
    """DuckDB twin of :func:`bpe_train` — the iterative merge loop
    UNROLLED into ``num_merges`` CTE rounds (the kmeans_embeddings
    pattern), converting this entry from rows-only to fully
    oracle-checked. Everything is exact integer/string arithmetic, so
    verdicts hash-match bit-for-bit with zero float subtleties.

    Per round: (1) adjacent-pair counts weighted by word frequency;
    (2) argmax with the contract tie-break (count desc, pair asc) as
    ORDER BY ... LIMIT 1; (3) the greedy LEFT-TO-RIGHT single-pass
    rewrite — the one non-trivial step. A plain string/list
    replace-all is NOT the greedy semantics when ``a == b`` (in a run
    of five a's greedy merges pairs 1-2 and 3-4, replace-from-the-
    left-after-consumption drifts), so merge positions are selected
    by a CHAIN-PARITY rule that is provably the greedy outcome:
    position i can start a merge iff (sym[i], sym[i+1]) = (a, b);
    consecutive can-start positions form chains (length 1 whenever
    a != b, since sym[i+1] cannot be both a and b; a-runs whenever
    a == b), and greedy merges exactly the EVEN OFFSETS within each
    chain. Gaps-and-islands gives the chain head, a lag gives the
    consumed flag, and an ordered FILTERed list() rebuilds the
    sequence."""
    parts = _bpe_oracle_parts(table, text_col, num_merges, byte_level)
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {r - 1} AS rank, a AS left, b AS right, a || b AS merged, "
        f"CAST(n AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, num_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + union


def _bpe_oracle_parts(table: str, text_col: str, num_merges: int,
                      byte_level: bool = False) -> list[str]:
    """Shared CTE blocks for the BPE oracles: ``words``/``v0`` plus,
    per round r, pair counts ``p{r}``, the argmax ``top{r}``, and the
    chain-parity greedy rewrite ending in ``v{r}`` — the distinct-word
    table with all r merges applied. :func:`bpe_train_oracle_sql`
    unions the ``top*`` rows; :func:`bpe_encode_oracle_sql` joins doc
    words against the final ``v{num_merges}``."""
    from python_plugins_spark.functions import oracle_fragments as O

    toks = O.sql_tokens(text_col)
    parts = [
        f"""words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest({toks}) AS w FROM {table}
      ) WHERE length(w) > 0 GROUP BY w
    )""",
        (
            # byte-level: lowercase hex UTF-8 byte pairs (matching
            # _BYTE_SYMS_SPARK and word_syms); else characters
            """v0 AS MATERIALIZED (
      SELECT w, cnt,
             list_concat([substr(lower(hex(encode(w))), 2*i - 1, 2)
                          for i in range(1, octet_length(encode(w)) + 1)],
                         ['</w>']) AS sym
      FROM words
    )"""
            if byte_level
            else """v0 AS MATERIALIZED (
      SELECT w, cnt,
             list_concat([w[i:i] for i in range(1, length(w) + 1)],
                         ['</w>']) AS sym
      FROM words
    )"""
        ),
    ]
    for r in range(1, num_merges + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS MATERIALIZED (
      SELECT sym[i] AS a, sym[i + 1] AS b, sum(cnt) AS n
      FROM v{p}, LATERAL (
        SELECT unnest(generate_series(1, len(sym) - 1)) AS i
      )
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"top{r} AS MATERIALIZED (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""e{r} AS (
      SELECT v.w, v.cnt, u.i, v.sym[u.i] AS s,
             (u.i < len(v.sym)
              AND v.sym[u.i] = t.a AND v.sym[u.i + 1] = t.b) AS cs
      FROM v{p} v CROSS JOIN top{r} t,
           LATERAL (SELECT unnest(generate_series(1, len(v.sym))) AS i) u
    )"""
        )
        parts.append(
            f"""f{r} AS (
      SELECT *, coalesce(lag(cs) OVER (PARTITION BY w ORDER BY i),
                         FALSE) AS lagcs
      FROM e{r}
    )"""
        )
        parts.append(
            f"""g{r} AS (
      SELECT *, sum(CASE WHEN cs AND NOT lagcs THEN 1 ELSE 0 END)
                  OVER (PARTITION BY w ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS chain_id
      FROM f{r}
    )"""
        )
        parts.append(
            f"""h{r} AS (
      SELECT *,
             cs AND (i - min(i) OVER (PARTITION BY w, chain_id)) % 2 = 0
               AS ms,
             lead(s) OVER (PARTITION BY w ORDER BY i) AS s_next
      FROM g{r}
    )"""
        )
        parts.append(
            f"""k{r} AS (
      SELECT *, coalesce(lag(ms) OVER (PARTITION BY w ORDER BY i),
                         FALSE) AS consumed
      FROM h{r}
    )"""
        )
        parts.append(
            f"""v{r} AS MATERIALIZED (
      SELECT w, cnt,
             list(CASE WHEN ms THEN s || s_next ELSE s END ORDER BY i)
               FILTER (WHERE NOT consumed) AS sym
      FROM k{r} GROUP BY w, cnt
    )"""
        )
    return parts


def bpe_encode_oracle_sql(table: str, text_col: str, id_col: str,
                          num_merges: int) -> str:
    """DuckDB twin of :func:`bpe_encode` composed over the learned
    merges: replays training (the shared :func:`_bpe_oracle_parts`
    rounds) down to ``v{num_merges}`` — the distinct-word table with
    every merge applied, i.e. exactly the per-word result the
    rank-based encoder must produce — then re-tokenizes the corpus
    with position, joins each word occurrence to its encoded form,
    and reassembles pieces in token order. Pieces compare as a
    space-joined string (the registry convention for array payloads);
    everything is exact string/integer arithmetic, so verdicts
    hash-match bit-for-bit."""
    from python_plugins_spark.functions import oracle_fragments as O

    n = num_merges
    parts = _bpe_oracle_parts(table, text_col, n)
    toks = O.sql_tokens(text_col)
    parts.append(
        f"dt AS (SELECT {id_col} AS id, {toks} AS toks FROM {table})"
    )
    parts.append(
        """dw AS (
      SELECT id, toks[u.i] AS w, u.i AS pos
      FROM dt, LATERAL (
        SELECT unnest(generate_series(1, len(toks))) AS i
      ) u
      WHERE length(toks[u.i]) > 0
    )"""
    )
    parts.append(
        f"""enc AS (
      SELECT dw.id,
             array_to_string(flatten(list(v.sym ORDER BY dw.pos)), ' ')
               AS piece_str,
             CAST(sum(len(v.sym)) AS INTEGER) AS n_pieces
      FROM dw JOIN v{n} v ON dw.w = v.w
      GROUP BY dw.id
    )"""
    )
    final = (
        f"SELECT d.id AS {id_col}, coalesce(e.piece_str, '') AS piece_str,\n"
        f"           coalesce(e.n_pieces, 0) AS n_pieces\n"
        f"    FROM (SELECT DISTINCT {id_col} AS id FROM {table}) d\n"
        f"    LEFT JOIN enc e ON d.id = e.id"
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final
