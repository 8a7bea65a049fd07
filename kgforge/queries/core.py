"""Registry spine shared by every query module: the ``Q`` record, the
``REGISTRY`` dict, the ``@q`` decorator, the table loader, and the
cross-engine exact-arithmetic helpers (see package __init__ docstring)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

@dataclass
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str


REGISTRY: dict[str, Q] = {}

def q(name: str, sql: str):
    def deco(fn):
        REGISTRY[name] = Q(fn, sql)
        return fn

    return deco


def t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Table loader. ``spread=True`` round-robin-repartitions the scan to
    the session's default parallelism — used by the CPU-bound-per-row
    queries (hashing/shingling/regex over documents/events/embeddings).

    Why (r7, guide §2.5 'input skew — one huge unsplittable file ...
    repartition immediately after the read'): the testdata tables are
    single parquet files with single-digit row-group counts, and a row
    group is the parallelism quantum of a parquet scan — documents.parquet
    at sf1.0 is ONE row group, so every expression in the scan stage ran
    on ONE core of 32 (measured: hashing 21.6s single-task vs ~1s of work at
    full width). The repartition is a few MB of shuffle that buys full
    fan-out of the expensive projection. Scale note: this is input-layout
    repair, not local-mode tuning — a 100 TB table laid out in many
    multi-row-group files gets its scan parallelism from the splits
    themselves, and the round-robin exchange of a CPU-bound stage stays
    cheap relative to the per-row work it spreads."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _dec_sum(col, scale: int = 2):
    """Exact, order-insensitive SUM of a fixed-point double column -> double.

    The testdata money/quantity columns are exact <=2-decimal values, so the
    decimal cast is lossless in both engines and the sum is exact — immune
    to float accumulation-order differences across engines/parallelism.
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _exact_stddev(col, scale: int = 2):
    """Sample stddev via exact decimal sums (closed form) — deterministic
    across engines, unlike streaming stddev accumulators."""
    d = col.cast(f"decimal(18,{scale})")
    n = F.count(col).cast("double")
    sx = F.sum(d).cast("double")
    sxx = F.sum(d * d).cast("double")
    return F.when(
        n > 1,
        F.sqrt(F.greatest(F.lit(0.0), (sxx - sx * sx / n) / (n - F.lit(1.0)))),
    ).otherwise(F.lit(None))

