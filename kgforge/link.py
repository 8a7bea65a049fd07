"""Entity linking: MinHash-LSH blocking + token-sort similarity (north rule).

Absent from the reference (SURVEY.md §2.6 'absent, required'); designed
Spark-first for 100 TB:

1. **Blocking** — DataFrame-native MinHash over character shingles of the
   normalized surface: ``b`` bands, each band's signature =
   min(xxhash64(band_id, shingle)). Surfaces sharing (band, signature, type)
   land in one block -> candidate pairs come from a block-local self-join
   instead of the O(n^2) cross join.
2. **Hot-block control** — blocks larger than ``max_block`` are *salted*:
   deterministically split by a hash of mention_id so no single reduce task
   owns a mega-block (FIXTURES.md hot-surface fixture; AQE skew-join also
   on). The input is distinct (type, surface) forms, so there are no
   exact duplicates for salting to separate.
3. **Scoring** — token-sort-ratio (sorted-token Levenshtein ratio) as a
   vectorized pandas UDF over candidate pairs only.

Every step is deterministic (seeded hashes, no RNG) so resume/reruns are
byte-stable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

DEFAULT_BANDS = 8
ROWS_PER_BAND = 2  # AND-combine r min-hashes per band; OR across bands
DEFAULT_SHINGLE = 3
DEFAULT_THRESHOLD = 0.82
DEFAULT_MAX_BLOCK = 200


def _levenshtein_ratio(a: str, b: str) -> float:
    """Pure-Python ratio on sorted tokens (only runs on blocked pairs)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != b[j - 1]))
        prev = cur
    return 1.0 - prev[lb] / max(la, lb)


def token_sort_ratio(a: str, b: str) -> float:
    sa = " ".join(sorted(a.split()))
    sb = " ".join(sorted(b.split()))
    return _levenshtein_ratio(sa, sb)


@pandas_udf(DoubleType())
def token_sort_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([token_sort_ratio(x or "", y or "") for x, y in zip(a, b)])


def _shingles(col, k: int):
    """char k-shingles of a padded surface as an array column (Catalyst)."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    n = F.greatest(F.length(padded) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: padded.substr(i, F.lit(k)))


def minhash_blocks(
    mentions: DataFrame,
    bands: int = DEFAULT_BANDS,
    shingle: int = DEFAULT_SHINGLE,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(mention_id, entity_type, norm_surface) -> one row per (band, sig).

    Classic banded MinHash-LSH: each band's signature is the AND-combination
    (hash) of ``rows_per_band`` independent min-hashes, so the per-band
    collision probability is J^r instead of J — without the AND step, a
    ubiquitous shingle (every PRICE surface contains 'ብር') owns the min for
    thousands of surfaces and a single band degenerates into one giant block
    (observed: a 6.5k-surface block -> 2.2M candidate pairs at 20k files).
    """
    sh = _shingles(F.col("norm_surface"), shingle)
    df = mentions.withColumn("_sh", sh)
    bands_arr = F.array(*[F.lit(i) for i in range(bands)])
    df = df.withColumn("band", F.explode(bands_arr))
    def _minhash(r: int):
        seed = F.col("band") * rows_per_band + r

        def h(s):
            return F.xxhash64(seed, s)

        return F.array_min(F.transform(F.col("_sh"), h))

    sig = F.xxhash64(*[_minhash(r) for r in range(rows_per_band)])
    return df.select(
        "mention_id", "entity_type", "norm_surface", "band", sig.alias("sig")
    )


def candidate_pairs(
    surfaces: DataFrame,
    bands: int = DEFAULT_BANDS,
    shingle: int = DEFAULT_SHINGLE,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Blocked candidate pairs (src < dst) over distinct surface forms,
    deduplicated across bands.

    Hot blocks (> max_block members) are salted: members are split into
    ceil(n/max_block) deterministic sub-blocks by xxhash64(mention_id); this
    trades a sliver of recall inside pathological blocks for bounded task
    size.
    """
    blocks = minhash_blocks(surfaces, bands, shingle)

    # Block sizes via a window over the block key — NOT a broadcast join:
    # the count table has one row per multi-member block, which is unbounded
    # at scale (billions of distinct surfaces would OOM the driver). The
    # window shuffles on (entity_type, band, sig), the same key family the
    # self-join below needs anyway.
    wb = Window.partitionBy("entity_type", "band", "sig")
    blocks = blocks.withColumn("_n", F.count("*").over(wb)).filter(
        F.col("_n") > 1
    )
    salt = F.when(
        F.col("_n") > max_block,
        F.pmod(F.xxhash64("mention_id"), (F.col("_n") / max_block + 1).cast("int")),
    ).otherwise(F.lit(0))
    blocks = blocks.withColumn("salt", salt)

    left = blocks.select(
        "entity_type", "band", "sig", "salt",
        F.col("mention_id").alias("src"), F.col("norm_surface").alias("surf_a"),
    )
    right = blocks.select(
        "entity_type", "band", "sig", "salt",
        F.col("mention_id").alias("dst"), F.col("norm_surface").alias("surf_b"),
    )
    return (
        left.join(right, ["entity_type", "band", "sig", "salt"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "surf_a", "surf_b")
        .dropDuplicates(["src", "dst"])
    )


def score_edges(pairs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Candidate pairs -> similarity edges (src, dst, sim) >= threshold.

    Cheap Catalyst pre-filter before the Python scorer: a ratio >= t needs
    the length gap <= (1-t) * max(len) (Levenshtein >= |len(a)-len(b)|),
    so most cross-length pairs never reach the pandas UDF.
    """
    la, lb = F.length("surf_a"), F.length("surf_b")
    pruned = pairs.filter(
        F.abs(la - lb) <= (1.0 - threshold) * F.greatest(la, lb)
    )
    scored = pruned.withColumn(
        "sim", token_sort_ratio_udf(F.col("surf_a"), F.col("surf_b"))
    )
    return scored.filter(F.col("sim") >= threshold).select("src", "dst", "sim")


NUMERIC_TYPES = ("PRICE", "PHONE")


def typed_link_surfaces(surfaces: DataFrame) -> DataFrame:
    """Typed blocking over distinct (mention_id, entity_type, norm_surface)
    surface forms (the pipeline's linker) -> edges (src, dst, sim).

    PRICE/PHONE surfaces carry a canonical numeric value — two price
    surfaces corefer iff their comma-stripped amounts are equal ("2,500 ብር"
    == "2500 ብር"), NOT when their strings look alike ("1,234 ብር" vs
    "9,234 ብር" must stay apart). Blocking them by exact value key is both
    more correct than string LSH and removes the dominant hot block (every
    price shares the 'ብር' suffix shingles; LSH alone produced ~1.2M
    candidate pairs at 20k files, value-blocking ~none).

    Textual types (PRODUCT/LOC/...) go through banded MinHash-LSH + scored
    token-sort similarity.
    """
    numeric = surfaces.filter(F.col("entity_type").isin(*NUMERIC_TYPES))
    textual = surfaces.filter(~F.col("entity_type").isin(*NUMERIC_TYPES))

    # numeric: exact value-key blocks; STAR edges to the block's min
    # mention_id (O(n) per block, same components as all-pairs — the
    # VERDICT r2 #4 discipline applied here too: a popular price value
    # shared by millions of surfaces must not emit quadratic pairs).
    keyed = numeric.withColumn(
        "vkey", F.regexp_replace(F.col("norm_surface"), "[^0-9.]", "")
    )
    wv = Window.partitionBy("entity_type", "vkey")
    num_edges = (
        keyed.withColumn("_min_id", F.min("mention_id").over(wv))
        .filter(F.col("mention_id") != F.col("_min_id"))
        .select(
            F.col("_min_id").alias("src"),
            F.col("mention_id").alias("dst"),
            F.lit(1.0).alias("sim"),
        )
    )

    text_edges = score_edges(candidate_pairs(textual))
    return num_edges.unionByName(text_edges)
