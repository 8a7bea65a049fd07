"""SparkSession factory tuned for the kgforge workload.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing, skew-join splitting, join-strategy re-plan.
- Arrow on: every pandas UDF crosses the JVM/Python boundary in columnar
  batches (the CIDR'22 vectorized-UDF pattern), never row-at-a-time.
- shuffle.partitions is a local-mode default; on a real cluster this is
  set per-job (~2-3x total cores) or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def get_spark(
    master: str | None = None,
    app_name: str = "kgforge",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with kgforge defaults."""
    # Python workers inherit the driver env in local mode: pin BLAS to one
    # thread per worker. Without this every pandas-UDF worker spawns a full
    # OpenBLAS pool (32 workers x 32 threads observed -> 2x slowdown).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r7 (guide §3.1/§9): let the planner pick shuffled-hash join when
        # its size conditions are met instead of defaulting to sort-merge —
        # the engine's equi-joins build small-side hash maps comfortably
        # and skip both sort passes. Measured same-box A/B at sf1 (warm):
        # q81 3.5 vs 3.9, q88 (PageRank, since deleted) 4.4 vs 5.2, q07 1.2
        # vs 1.4, cold q81 4.6 vs 11.1; q01/q69 within noise. Not a
        # local-only tune: the planner still falls back to SMJ when a build
        # side would not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGFORGE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

