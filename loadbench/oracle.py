"""Canonical hashes of catalog entries' DuckDB oracle results.

Run as a separate process so the oracle queries overlap the JVM launch
instead of adding to the run:

    python3 loadbench/oracle.py <data_dir> <out.json> <entry> [<entry> ...]

writes ``{entry: {"hash": ..., "rows": n}}`` (or ``{"error": ...}``). The
canonical form is ``tests/oracle_harness.canon``, imported, so the
benchmark's verdict is the same as the repository's oracle tests.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("documents", "embeddings")


def canon_hash(df) -> str:
    """sha256 of the harness's canonical form of a pandas frame."""
    from tests.oracle_harness import canon

    return hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest()


def oracle_hashes(data_dir: str, names: list[str], sql: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")  # leave cores to the JVM it overlaps
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{table}.parquet')"
        )
    out = {}
    for name in names:
        try:
            df = con.execute(sql[name]).fetchdf()
            out[name] = {"hash": canon_hash(df), "rows": len(df)}
        except Exception as e:  # one broken oracle must not hide the others
            out[name] = {"error": repr(e)[:500]}
    con.close()
    return out


def main(data_dir: str, out_path: str, names: list[str]) -> None:
    from postgres_etl_pipeline_spark.queries import oracle_sql

    with open(out_path, "w") as f:
        json.dump(oracle_hashes(data_dir, names, oracle_sql()), f)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
