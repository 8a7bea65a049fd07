"""Per-partition lineage/metrics + idempotent resume (north rule).

The reference's closest analogues are its hash-keyed result cache
(reference: src/evaluation/interpret.py:789-815) and atomic temp-file commit
(src/preprocessing/data_pipeline.py:190-211). kgforge generalizes both into
a lineage table: one row per (stage, part_id) with row count, an
order-insensitive content fingerprint, and the wall time of the phase that
committed it. Lineage is driver-sized (at most n_parts rows per stage and
build): it is collected and appended from driver-side rows, and resume is
a filter on the committed part_ids.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def completed_parts(spark: SparkSession, lineage_path: str, stage: str) -> list[int]:
    """part_ids already committed for ``stage`` (empty if no lineage yet)."""
    lin = read_parquet_if_exists(spark, lineage_path)
    if lin is None:
        return []
    done = lin.filter(F.col("stage") == stage).select("part_id").collect()
    return sorted({r.part_id for r in done})


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
    ``time.perf_counter()`` start ``t0``."""
    wall_ms = int((time.perf_counter() - t0) * 1000)
    append_lineage(
        spark.createDataFrame([(*r, wall_ms) for r in rows], LINEAGE), lineage_path
    )
