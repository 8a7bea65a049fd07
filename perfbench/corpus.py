"""Seeded inputs for the benchmark; kgforge only ever sees the parquet.

``kgforge.synth`` fixes its own seed, so the benchmark derives a corpus
from the workload seed by shifting the row index: file ``i`` of seed ``s``
is ``make_row(s * SEED_STRIDE + i)``. Every seed keeps the synthetic
corpus's default shape (two mega-repos hold ~30% of rows; price and phone
surfaces mostly distinct) and no two seeds share a file.
"""

from __future__ import annotations

import random
from pathlib import Path

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kgforge.schemas import SOURCE_FILES
from kgforge.synth import make_row

SEED_STRIDE = 10_000_000  # row indices reserved per seed (> any corpus size)


def source_rows(seed: int, n: int) -> list[dict]:
    if seed < 0:
        raise ValueError(f"--seed must be >= 0, got {seed}")
    return [make_row(seed * SEED_STRIDE + i) for i in range(n)]


def write_source_files(rows: list[dict], path: Path, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files with the SOURCE_FILES
    columns (several files, so Spark scans them with several tasks)."""
    path.mkdir(parents=True)
    df = pd.DataFrame(rows, columns=[f.name for f in SOURCE_FILES.fields])
    for k in range(n_files):
        df.iloc[k::n_files].to_parquet(path / f"part-{k:03d}.parquet", index=False)


def comention_entities(spark: SparkSession, kg_dir: str) -> dict[str, list[str]]:
    """Entity keys (``TYPE:canonical surface``) that sit in the co-mention
    graph of a built KG, i.e. share a document with another entity, sorted
    within each entity type. Read from the committed mention table and
    canon map, which is the graph ``pipeline.related_entities`` ranks."""
    mentions = spark.read.parquet(f"{kg_dir}/mentions")
    canon_map = spark.read.parquet(f"{kg_dir}/canon_map")
    doc_ent = (
        mentions.join(canon_map, ["entity_type", "norm_surface"])
        .select(
            F.concat_ws("\x1f", "repo", "path", "commit").alias("doc"),
            "entity_type",
            F.concat_ws(":", "entity_type", "canon_surface").alias("entity"),
        )
        .distinct()
    )
    multi = doc_ent.groupBy("doc").count().filter(F.col("count") > 1).select("doc")
    rows = (
        doc_ent.join(multi, "doc", "left_semi")
        .select("entity_type", "entity")
        .distinct()
        .collect()
    )
    by_type: dict[str, list[str]] = {}
    for r in rows:
        by_type.setdefault(r.entity_type, []).append(r.entity)
    return {t: sorted(v) for t, v in by_type.items()}


def draw_query_seeds(by_type: dict[str, list[str]], seed: int, n: int) -> list[str]:
    """``n`` query seeds drawn from the workload seed, cycling over entity
    types so no single type (e.g. the many distinct PHONE surfaces)
    dominates the sample."""
    if not by_type:
        raise ValueError("the co-mention graph is empty; no query seed resolves")
    rng = random.Random(f"perfbench-query-{seed}")
    types = sorted(by_type)
    return [rng.choice(by_type[types[i % len(types)]]) for i in range(n)]
