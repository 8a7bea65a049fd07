"""Declared StructType schemas for every stage boundary.

The reference uses dynamic convention-based pandas schemas (columns appear by
assignment; defensive projection at telegram_scraper.py:399). kgforge pins a
fixed, declared schema at every boundary so plans are stable, Parquet/Iceberg
pushdown works, and the driver's schema checks are deterministic.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Primary KG input (BASELINE.json input_hint): Iceberg-style table of
# source-code repositories.
# ---------------------------------------------------------------------------
SOURCE_FILES = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

# Entity mention relation (HF pipeline output shape, scorecard_engine.py:54-57)
MENTIONS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("surface", StringType(), False),
        StructField("start", IntegerType(), False),  # token index, inclusive
        StructField("end", IntegerType(), False),  # token index, exclusive
        StructField("score", DoubleType(), True),
    ]
)

# Per-partition lineage/metrics row (idempotent resume + metrics, north rule).
# fingerprint = hex(bit_xor(xxhash64(row))) — order-insensitive, O(1) memory
# per partition (a sorted-list sha256 would need a per-partition collect; XOR
# folding scales to arbitrarily large partitions and is what the resume
# byte-identity test compares). wall_ms: the committing phase's measured
# duration, the same on every row of one append.
LINEAGE = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("n_rows", LongType(), False),
        StructField("fingerprint", StringType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)

# The committed tables as a read of them returns them: the file columns in
# write order, then the partition column part_id, which a partitioned read
# puts last. Declaring them lets a read-back of a table the same call has
# just written skip Spark's schema-inference job; tests/test_pipeline.py
# checks that they equal what Spark infers after a build.
MENTION_TABLE = StructType(
    MENTIONS.fields
    + [
        StructField("norm_surface", StringType(), True),
        StructField("mention_id", LongType(), True),
        StructField("part_id", IntegerType(), True),
    ]
)

# Distinct (entity_type, norm_surface) -> canonical surface (not partitioned).
CANON_MAP = StructType(
    [
        StructField("entity_type", StringType(), True),
        StructField("norm_surface", StringType(), True),
        StructField("canon_surface", StringType(), True),
    ]
)

# Deduplicated (subj, pred, obj) with min-repo provenance.
TRIPLE_TABLE = StructType(
    [
        StructField("subj", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("obj", StringType(), True),
        StructField("repo", StringType(), True),
        StructField("part_id", IntegerType(), True),
    ]
)

# BIO tag vocabulary — single source of truth (SURVEY.md section 7.4 risk 2:
# the reference ships three inconsistent label orders at train_ner.py:38,
# interpret.py:80-83 and models/fine_tuned/.../config.json; we pin ONE).
ENTITY_TYPES = ("PRODUCT", "PRICE", "LOC", "PHONE")
TAGS = ("O",) + tuple(
    f"{p}-{t}" for t in ENTITY_TYPES for p in ("B", "I")
)
TAG_TO_ID = {t: i for i, t in enumerate(TAGS)}
ID_TO_TAG = dict(enumerate(TAGS))

PRED_DECLARES = "declares_entity"
PRED_HAS_ATTR = "has_attribute"
