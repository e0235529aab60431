"""Expected headline results: the DuckDB oracles of the registry.

The expected row count and content hash of each headline query come from
its DuckDB oracle (``python_plugins_spark.queries.ORACLES``) over the
same generated parquet files. At sf0.1 the oracles take ~40 s, so their
results are kept in ``headline_expected.json`` together with the md5 of
the data they were computed on; a run whose data differs computes them
afresh. Regenerate the file with

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen  # noqa: E402
# the repository's oracle comparison, so hashes compare across engines
from scripts.check_correctness import frame_hash  # noqa: E402,F401

HEADLINE_EXPECTED = os.path.join(HERE, "headline_expected.json")


def star_fingerprint(data_dir: str) -> str:
    return datagen.fingerprint([os.path.join(data_dir, f"{t}.parquet") for t in datagen.STAR_TABLES])


def oracle_expectations(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Row count and content hash of each query's DuckDB oracle."""
    import duckdb

    from python_plugins_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in datagen.STAR_TABLES:
            con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            pdf = con.sql(ORACLES[name]).df()
            out[name] = {"rows": len(pdf), "hash": frame_hash(pdf)}
        return out
    finally:
        con.close()


def headline_expectations(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Oracle results for the generated data: read from
    ``headline_expected.json`` when its data fingerprint matches (the
    sf0.1 oracles take ~40 s in DuckDB), else computed now."""
    if os.path.exists(HEADLINE_EXPECTED):
        with open(HEADLINE_EXPECTED) as fh:
            stored = json.load(fh)
        if stored["fingerprint"] == star_fingerprint(data_dir) and set(names) <= set(stored["queries"]):
            return stored["queries"]
    return oracle_expectations(data_dir, names)


def main() -> int:
    from python_plugins_spark.queries import BENCH_QUERIES

    from perfbench.workloads import HEADLINE_SCALE

    run_root = os.path.join(HERE, ".run")
    os.makedirs(run_root, exist_ok=True)
    data_dir = tempfile.mkdtemp(prefix="oracles-", dir=run_root)
    try:
        datagen.write_star_schema(data_dir, HEADLINE_SCALE)
        out = {
            "scale": HEADLINE_SCALE,
            "fingerprint": star_fingerprint(data_dir),
            "queries": oracle_expectations(data_dir, list(BENCH_QUERIES)),
        }
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass
    with open(HEADLINE_EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {HEADLINE_EXPECTED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
