"""Deterministic local-file fixtures for source-format queries.

Fixture GENERATION is harness plumbing, not the operator under test —
extracted here so the registered query bodies contain ONLY the read
path (the thing being timed and verified). Generation runs off the
driver tables via DuckDB (no Spark jobs at all), is content-
deterministic, idempotent, and memoized per (variant, sf_dir): the
first query that needs a fixture pays one local write, every later
invocation just reads.
"""

from __future__ import annotations

import os
import shutil

import duckdb

from python_plugins_spark import SCRATCH as _SCRATCH

_BUILT: set[tuple[str, str]] = set()


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _memo(variant: str, sf_dir: str, path: str) -> bool:
    """True if the fixture is already on disk (and memoized)."""
    key = (variant, sf_dir)
    if key in _BUILT and os.path.exists(path):
        return True
    return False


def _docs(sf_dir: str, sql: str):
    return duckdb.sql(sql.format(docs=f"'{sf_dir}/documents.parquet'")).fetchall()


def corrupt_jsonl(sf_dir: str, variant: str = "corrupt") -> str:
    """JSONL with every 7th line truncated garbage — the malformed-
    record-policy fixture (DROPMALFORMED / PERMISSIVE+corrupt-column
    queries)."""
    path = os.path.join(_SCRATCH, f"{variant}_{_tag(sf_dir)}.jsonl")
    if _memo(variant, sf_dir, path):
        return path
    os.makedirs(_SCRATCH, exist_ok=True)
    rows = _docs(sf_dir, "SELECT doc_id, n_chars FROM {docs} ORDER BY doc_id")
    with open(path, "w") as fh:
        for doc_id, n_chars in rows:
            if doc_id % 7 == 0:
                fh.write(f'{{"doc_id": {doc_id}, "n_chars": OOPS\n')
            else:
                fh.write(f'{{"doc_id": {doc_id}, "n_chars": {n_chars}}}\n')
    _BUILT.add((variant, sf_dir))
    return path


def inferable_jsonl(sf_dir: str) -> str:
    """Well-formed JSONL (the corrupt fixture's good lines) for the
    schema-inference query."""
    path = os.path.join(_SCRATCH, f"infer_{_tag(sf_dir)}.jsonl")
    if _memo("infer", sf_dir, path):
        return path
    os.makedirs(_SCRATCH, exist_ok=True)
    rows = _docs(
        sf_dir,
        "SELECT doc_id, n_chars FROM {docs} WHERE doc_id % 7 <> 0 ORDER BY doc_id",
    )
    with open(path, "w") as fh:
        for doc_id, n_chars in rows:
            fh.write(f'{{"doc_id": {doc_id}, "n_chars": {n_chars}}}\n')
    _BUILT.add(("infer", sf_dir))
    return path


def binary_doc_dir(sf_dir: str) -> str:
    """One .bin file per document (doc_id < 40), bytes = utf8 text —
    the binaryFile-format ingestion fixture."""
    root = os.path.join(_SCRATCH, f"bin_{_tag(sf_dir)}")
    if _memo("bin", sf_dir, root):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rows = _docs(sf_dir, "SELECT doc_id, text FROM {docs} WHERE doc_id < 40")
    for doc_id, text in rows:
        with open(os.path.join(root, f"{doc_id}.bin"), "wb") as f:
            f.write(text.encode("utf-8"))
    _BUILT.add(("bin", sf_dir))
    return root
