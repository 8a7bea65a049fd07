"""Per-partition lineage/metrics + idempotent resume (north rule).

The reference's closest analogues are its hash-keyed result cache
(reference: src/evaluation/interpret.py:789-815) and atomic temp-file commit
(src/preprocessing/data_pipeline.py:190-211). kgforge generalizes both into
a lineage table: one row per (stage, part_id) with row count, an
order-insensitive content fingerprint, and the wall time of the phase that
committed it. Lineage is driver-sized (at most n_parts rows per stage and
build), so the driver does its bookkeeping without inference jobs or
Python tasks: it reads the table with the declared ``LINEAGE`` schema and
checks the rows it collects, appends its rows as an Arrow table (a local
relation, written by a JVM-only job), and resume is a filter on the
committed part_ids.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from kgforge.materialize import read_parquet_if_exists
from kgforge.schemas import LINEAGE


def fingerprint_expr(*cols: str) -> F.Column:
    """Order-insensitive partition fingerprint: bit_xor of per-row xxhash64.

    XOR-folding is associative/commutative, so the fingerprint is identical
    at any parallelism and needs no sort or collect — the property the
    8-vs-32-core determinism and kill/resume tests assert.
    """
    return F.lpad(
        F.hex(F.bit_xor(F.xxhash64(*[F.col(c) for c in cols]))), 16, "0"
    )


def lineage_rows(
    df: DataFrame, stage: str, content_cols: list[str], part_col: str = "part_id"
) -> DataFrame:
    """One (stage, part_id, n_rows, fingerprint) row per partition of ``df``;
    ``append_rows`` stamps the wall time."""
    return df.groupBy(F.col(part_col).cast("int").alias("part_id")).agg(
        F.count("*").alias("n_rows"),
        fingerprint_expr(*content_cols).alias("fingerprint"),
    ).select(F.lit(stage).alias("stage"), "part_id", "n_rows", "fingerprint")


def committed_rows(
    spark: SparkSession, lineage_path: str, stages: list[str]
) -> list[Row]:
    """(stage, part_id, fingerprint) of the committed rows of ``stages``,
    from one collect (empty if no lineage yet).

    The table is read with the declared ``LINEAGE`` schema, which needs no
    inference job but reads a column the files lack as NULL. So any row
    with a NULL stage, part_id or fingerprint raises here, on the driver,
    instead of reading as "not committed"."""
    lin = read_parquet_if_exists(spark, lineage_path, LINEAGE)
    if lin is None:
        return []
    stage = F.col("stage")
    rows = (
        lin.filter(stage.isin(*stages) | stage.isNull())
        .select("stage", "part_id", "fingerprint")
        .collect()
    )
    if any(v is None for r in rows for v in r):
        raise RuntimeError(
            f"lineage table at {lineage_path} has rows with a NULL stage, "
            "part_id or fingerprint: it lacks a LINEAGE column"
        )
    return rows


def completed_parts(spark: SparkSession, lineage_path: str, stage: str) -> list[int]:
    """part_ids already committed for ``stage`` (empty if no lineage yet)."""
    return sorted({r.part_id for r in committed_rows(spark, lineage_path, [stage])})


def filter_pending(
    df: DataFrame, done: list[int], part_col: str = "part_id"
) -> DataFrame:
    """Drop rows whose partition is already committed."""
    return df.filter(~F.col(part_col).isin(done)) if done else df


def append_lineage(rows: DataFrame, lineage_path: str) -> None:
    rows.write.mode("append").parquet(lineage_path)


def append_rows(
    spark: SparkSession, rows: list[tuple], t0: float, lineage_path: str
) -> None:
    """Append (stage, part_id, n_rows, fingerprint) rows in one write, each
    stamped with the committing phase's wall time: milliseconds since its
    ``time.perf_counter()`` start ``t0``.

    The rows go to the JVM as one Arrow batch and become a local relation,
    so the write runs no Python tasks. A ``pa.Table`` takes that path
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says; a list of
    rows would be pickled into a Python RDD instead."""
    wall_ms = int((time.perf_counter() - t0) * 1000)
    table = pa.Table.from_pylist(
        [dict(zip(LINEAGE.names, (*r, wall_ms))) for r in rows],
        schema=to_arrow_schema(LINEAGE),
    )
    append_lineage(spark.createDataFrame(table, LINEAGE), lineage_path)
