"""Cross-engine oracle gate: run a registry entry on Spark and its DuckDB
twin (the entry's oracle SQL) over the same parquet tables.

An entry passes when both engines return the same row count, the same
column names and the same order-insensitive value multiset (cells
stringified, columns sorted by name, rows sorted).

One routine for both callers: ``tests/test_oracles.py`` checks every entry
at sf0.001 in tier-1, and ``tools/check_oracles.py`` runs the same check at
any scale.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from kgforge.queries.core import Q

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Differences between a Spark result and its oracle; empty if equal."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if not problems:
        a, b = normalize(sdf), normalize(odf)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, e.g. {diff}")
    return problems


def check(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    sf_dir: str,
    entry: Q,
) -> tuple[int, list[str]]:
    """Run one registry entry: (Spark row count, problems). Errors in
    either engine propagate."""
    sdf = entry.fn(spark, sf_dir).toPandas()
    return len(sdf), compare(sdf, con.execute(entry.sql).df())
