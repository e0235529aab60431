"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
scale give byte-identical parquet files (pyarrow writes no timestamps or
host names into the file). The engine only ever sees these files.

- :func:`write_star_schema` — the ten-table TPC-H-like star schema the
  registry queries read (``region`` ... ``embeddings``), with the same
  column names, types and value domains as the repository's test data.
  ``scale=0.1`` gives 600k ``lineitem`` rows.
- :func:`write_evaluator_table` — mixed-type rows with nulls and ~1%
  malformed ``code`` values, the input of the ``evaluator`` workload.
- :func:`stream_events` — one file of the ``evaluator`` workload's event stream.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "small", "hot", "cold", "bright", "dark", "smooth", "rough"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join shuffle plan cache index page"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131 * _DAY_US  # 1995-01-01
_EPOCH_2024 = 19723 * _DAY_US  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the repository's test data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # exact and near duplicates give the dedup / similarity queries work
    for i in range(n // 40, n, 97):
        texts[i] = texts[i - n // 40]
    for i in range(n // 50, n, 89):
        toks = texts[i - n // 50].split()
        toks[len(toks) // 2] = "near"
        texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    dim, labels = 64, 10
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def star_schema_tables(scale: float, seed: int = 42) -> dict[str, pa.Table]:
    """The ten star-schema tables at ``scale`` (0.1 -> 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_li = max(10, int(6_000_000 * scale))
    n_ev = max(10, int(1_000_000 * scale))
    n_doc = max(10, int(50_000 * scale))
    n_emb = max(10, int(20_000 * scale))
    n_users = max(5, int(15_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_ord))),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string()),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900.0, 2100.0, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(_cents(np.minimum(rng.gamma(2.0, 30.0, n_ev), 560.0))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_star_schema(out_dir: str, scale: float, seed: int = 42) -> dict[str, int]:
    """Write the star schema as ``<out_dir>/<table>.parquet``; returns
    row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_schema_tables(scale, seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def fingerprint(paths: list[str]) -> str:
    """md5 over the bytes of ``paths`` in the given order."""
    h = hashlib.md5()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


EVALUATOR_CATEGORIES = ["retail", "wholesale", "online", "partner", "internal", "promo"]


def evaluator_table(rows: int, seed: int) -> pa.Table:
    """Mixed-type records for the ``evaluator`` workload: longs, doubles,
    strings, booleans and timestamps, each nullable column ~5% null,
    and ~1% of ``code`` values malformed so the script raises on them."""
    rng = np.random.default_rng(seed)

    def nulls(p: float) -> np.ndarray:
        return rng.random(rows) < p

    code = rng.integers(0, 1000, rows).astype(str).astype(object)
    bad = rng.random(rows) < 0.01
    code[bad] = "x" + code[bad]
    return pa.table({
        "id": pa.array(np.arange(rows), pa.int64()),
        "category": pa.array(rng.choice(EVALUATOR_CATEGORIES, rows), pa.string(), mask=nulls(0.05)),
        "qty": pa.array(rng.integers(1, 20, rows), pa.int64(), mask=nulls(0.05)),
        "price": pa.array(_cents(rng.uniform(0.5, 500.0, rows)), pa.float64(), mask=nulls(0.05)),
        "discount": pa.array(rng.integers(0, 30, rows) / 100.0, pa.float64()),
        "flag": pa.array(rng.random(rows) < 0.2, pa.bool_(), mask=nulls(0.05)),
        "code": pa.array(code, pa.string()),
        "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, rows)),
    })


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=65_536)


def write_evaluator_table(path: str, rows: int, seed: int) -> pa.Table:
    table = evaluator_table(rows, seed)
    write_table(table, path)
    return table


STREAM_SCHEMA = "event_id long, created_s double, user_id long, kind string, amount double"


def stream_events(seed: int, file_no: int, first_id: int, n: int, created_s: float) -> pa.Table:
    """Events of stream file ``file_no``: ids ``first_id .. first_id+n-1``,
    all stamped with ``created_s`` (the time the file was due)."""
    rng = np.random.default_rng([seed, file_no])
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "created_s": pa.array(np.full(n, created_s), pa.float64()),
        "user_id": pa.array(rng.integers(0, 500, n), pa.int64()),
        "kind": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
        "amount": pa.array(_cents(rng.gamma(2.0, 30.0, n)), pa.float64()),
    })
