"""Multi-pattern blocklist filtering — the C4-style content gate.

Production corpus pipelines drop or flag documents containing phrases
from curated lists (C4's public badword filtering is the canonical
example; URL and boilerplate blocklists are the same machinery). The
operation is multi-pattern SUBSTRING counting, and the right engine
shape depends on the pattern-set size:

- **expression path** (:func:`blocklist_counts`, ``mode="expr"``) —
  per phrase, the non-overlapping occurrence count as pure string
  expressions ``(len(text) - len(replace(text, p, ''))) / len(p)``:
  whole-stage codegen, no Python, exactly replayable in any SQL
  engine (the registry oracle uses the identical expression). Right
  for curated lists up to a few hundred phrases — the plan grows
  linearly with the list.
- **Aho-Corasick path** (``mode="ac"``) — one automaton pass per
  document inside one Arrow row map (``transform.map_rows``); cost is
  O(text + matches) INDEPENDENT of the pattern count, the scale path
  for 100k-phrase lists where a per-phrase expression (or a regex
  alternation) explodes. Counts are de-overlapped per phrase
  (greedy left-to-right), so both paths return IDENTICAL numbers —
  pinned by a randomized equivalence test.

Semantics (both paths): per-phrase NON-OVERLAPPING occurrence count,
greedy from the left — exactly what the replace() expression counts.
Matching is raw substring (no word boundaries): boundary handling
belongs to the caller's phrase design (" slow merge " style padding),
not hidden in the operator.

At 100 TB: the phrase list broadcasts (it is tiny next to the corpus);
both paths are zero-shuffle narrow maps over the scan.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_plugins_spark.operators.transform import map_rows


def _occurrence_expr(text_col: str, phrase: str):
    """Non-overlapping occurrence count of ``phrase`` as a pure
    column expression (codegen; oracle-identical in SQL)."""
    t = F.col(text_col)
    # coalesce to 0 so NULL text counts as zero hits — identical to the
    # Aho-Corasick path's ``text or ""`` coercion (equivalence-tested).
    return F.coalesce(
        (
            (F.length(t) - F.length(F.replace(t, F.lit(phrase), F.lit(""))))
            / F.lit(len(phrase))
        ).cast("long"),
        F.lit(0).cast("long"),
    )


def occurrence_oracle_sql(text_col: str, phrase: str) -> str:
    """The DuckDB twin of :func:`_occurrence_expr`."""
    p = phrase.replace("'", "''")
    return (
        f"COALESCE(CAST((length({text_col}) - length(replace({text_col}, '{p}', '')))"
        f" / {len(phrase)} AS BIGINT), 0)"
    )


class AhoCorasick:
    """Classic Aho-Corasick automaton (goto/fail/output), dict-based.
    Build O(total pattern length); match O(text + hits)."""

    def __init__(self, phrases: list[str]):
        if len(set(phrases)) != len(phrases):
            raise ValueError("duplicate phrases in blocklist")
        self.phrases = list(phrases)
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        self.fail: list[int] = [0]
        for idx, p in enumerate(phrases):
            if not p:
                raise ValueError("empty phrase in blocklist")
            s = 0
            for ch in p:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(idx)
        # BFS failure links; merge outputs along them
        q = deque(self.goto[0].values())
        while q:
            s = q.popleft()
            for ch, t in self.goto[s].items():
                q.append(t)
                f = self.fail[s]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[t] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != t else 0
                self.out[t] = self.out[t] + self.out[self.fail[t]]

    def count_nonoverlapping(self, text: str) -> list[int]:
        """Per-phrase greedy non-overlapping counts (replace()
        semantics): all match END positions stream out of the
        automaton in order; a match is kept when it starts at or
        after the previous KEPT match's end for that phrase."""
        counts = [0] * len(self.phrases)
        next_ok = [0] * len(self.phrases)  # earliest allowed start
        s = 0
        for i, ch in enumerate(text):
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            for idx in self.out[s]:
                start = i + 1 - len(self.phrases[idx])
                if start >= next_ok[idx]:
                    counts[idx] += 1
                    next_ok[idx] = i + 1
        return counts


def blocklist_counts(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "expr",
) -> DataFrame:
    """(id, hits_total, n_phrases_hit, blocked) per row; ``blocked``
    when any phrase occurs. ``mode="expr"`` for curated lists (pure
    codegen), ``mode="ac"`` for huge lists (Aho-Corasick narrow map).
    Both return identical values (equivalence-tested), including on
    NULL text (counted as zero hits, ``blocked = false``)."""
    if not phrases:
        raise ValueError("blocklist phrases must be non-empty")
    if mode == "expr":
        occ = [_occurrence_expr(text_col, p) for p in phrases]
        total = occ[0]
        for o in occ[1:]:
            total = total + o
        nhit = sum(
            (o > 0).cast("int") for o in occ
        )
        return df.select(
            id_col,
            total.alias("hits_total"),
            nhit.cast("long").alias("n_phrases_hit"),
            (total > 0).alias("blocked"),
        )
    if mode != "ac":
        raise ValueError(f"unknown blocklist mode {mode!r}")
    phrase_list = list(phrases)
    ac = None

    def scan(rid, text):
        nonlocal ac
        if ac is None:  # each task unpickles its own scan: built once per task
            ac = AhoCorasick(phrase_list)
        counts = ac.count_nonoverlapping(text or "")
        yield rid, sum(counts), sum(1 for c in counts if c), any(counts)

    return map_rows(
        df, [id_col, text_col],
        f"`{id_col}` long, hits_total long, n_phrases_hit long, blocked boolean",
        scan,
    )
