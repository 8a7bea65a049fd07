"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (TPC-H-Q1-shaped pricing summary) on
  /root/testdata/sf0.001.
- ``queries()``: one entry per implemented operator family from SURVEY.md §2
  plus the corpus-pipeline ops (decontamination / quality / text
  analysis) — see the kgforge/queries/ package.
- ``oracle_sql()``: the DuckDB-equivalent ANSI SQL of every query (every
  entry has oracle SQL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kgforge.queries import REGISTRY

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q01_pricing_summary"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.sql for name, qd in REGISTRY.items()}
