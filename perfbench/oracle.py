"""Correctness gate: results compared as multisets of rows in DuckDB.

A result matches its expectation when both have the same column names
and ``EXCEPT ALL`` is empty in both directions, so every row appears the
same number of times on each side (DuckDB evaluates it by hashing rows).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from perfbench.corpus import TABLES


def connect(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{corpus_dir}/{name}.parquet'"
        )
    return con


def mismatch(con, actual: pa.Table, expected_sql: str) -> str | None:
    """None when ``actual`` equals the result of ``expected_sql``, else a
    one-line description of the first difference found."""
    con.register("bench_actual", actual)
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE bench_expected AS {expected_sql}")
        want = [d[0] for d in con.execute("SELECT * FROM bench_expected LIMIT 0").description]
        if sorted(want) != sorted(actual.column_names):
            return f"columns {sorted(actual.column_names)} != {sorted(want)}"
        cols = ", ".join(f'"{c}"' for c in sorted(want))
        n_exp = con.execute("SELECT count(*) FROM bench_expected").fetchone()[0]
        if n_exp != actual.num_rows:
            return f"rows {actual.num_rows} != {n_exp}"
        for a, b in (("bench_actual", "bench_expected"), ("bench_expected", "bench_actual")):
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                f"EXCEPT ALL SELECT {cols} FROM {b})"
            ).fetchone()[0]
            if extra:
                return f"{extra} rows of {a} missing from {b}"
        return None
    finally:
        con.unregister("bench_actual")
