"""Per-partition lineage/metrics + idempotent resume (north rule).

The reference's closest analogues are its hash-keyed result cache
(reference: src/evaluation/interpret.py:789-815) and atomic temp-file commit
(src/preprocessing/data_pipeline.py:190-211). kgforge generalizes both into
a lineage table: one row per (stage, part_id) with row count, an
order-insensitive content fingerprint, and wall time. Resume = a
``left_anti`` join of the partition universe against completed lineage rows
(SURVEY.md §2.6 'semi/anti for checkpoint resume').
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.materialize import read_parquet_if_exists


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
    """One lineage row per partition of ``df``."""
    now_ms = int(time.time() * 1000)
    return df.groupBy(F.col(part_col).cast("int").alias("part_id")).agg(
        F.count("*").alias("n_rows"),
        fingerprint_expr(*content_cols).alias("fingerprint"),
    ).select(
        F.lit(stage).alias("stage"),
        "part_id",
        "n_rows",
        "fingerprint",
        F.lit(now_ms).alias("wall_ms"),
    )


def completed_parts(spark: SparkSession, lineage_path: str, stage: str) -> DataFrame | None:
    """part_ids already committed for ``stage`` (None if no lineage yet)."""
    lin = read_parquet_if_exists(spark, lineage_path)
    if lin is None:
        return None
    return lin.filter(F.col("stage") == stage).select("part_id").distinct()


def filter_pending(
    df: DataFrame, done: DataFrame | None, part_col: str = "part_id"
) -> DataFrame:
    """Drop rows whose partition is already committed (anti-join resume).

    ``done`` is broadcast — it is a tiny (<= n_parts rows) dimension against
    an arbitrarily large fact side; never a shuffle.
    """
    if done is None:
        return df
    return df.join(
        F.broadcast(done.withColumnRenamed("part_id", part_col)), [part_col], "left_anti"
    )


def append_lineage(rows: DataFrame, lineage_path: str) -> None:
    rows.write.mode("append").parquet(lineage_path)
