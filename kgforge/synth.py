"""Deterministic synthetic ``source_files`` corpus (no external data).

Mirrors the shape demanded by BASELINE.json's input_hint:
``(repo, path, commit, lang, content)``. Content templates embed known
mention patterns at deterministic positions (price-like attributes, phone
ids, product-trigger declarations, SKU veto tokens, URLs, emoji, NFKC
unnormalized forms) so golden spans are derivable by the frozen oracle in
``kgforge.oracle`` — that is the P/R >= 0.95 gate fixture (FIXTURES.md §1).

Design for determinism at scale: a single pure-Python ``make_row(i)`` is the
source of truth; Spark applies it over ``spark.range(n)`` through a
vectorized pandas UDF (Arrow batches, no per-row Python crossing), so the
corpus is identical at any parallelism / partition count — required for the
resume-idempotency and 8-vs-32-core determinism tests (SURVEY §7.4 risk 5).

Skew fixture: two mega-repos hold ~30% of all rows (FIXTURES.md §1), which
exercises the salted-repartition path in ``kgforge.materialize``.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.schemas import SOURCE_FILES

SEED = 42

_LANGS = ("python", "java", "js", "go", "amh_text")
_EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "amh_text": "txt"}

# Amharic trigger vocabulary mirroring the reference's product trigger list
# (reference: src/preprocessing/data_cleaner.py:33) and price/phone patterns
# (data_cleaner.py:31-32). Used ONLY to plant extractable text — extraction
# itself lives in kgforge.extract / kgforge.oracle.
_TRIGGERS = ("ሽያጭ", "ግዢ", "እቃ")
_PRODUCTS = ("ጫማ", "ቦርሳ", "ሞባይል", "laptop", "ልብስ", "ሰዓት")
_UNITS = ("ብር", "birr", "br")
_FILLER = (
    "def load(x):",
    "return value + 1",
    "// TODO refactor",
    "import sys",
    "const n = 42;",
    "func main() {}",
    "ይህ መደበኛ ጽሑፍ ነው",
    "buy now online",
)


def make_row(i: int) -> dict:
    """Deterministic row i of the synthetic corpus (pure Python twin)."""
    rng = random.Random(f"kgforge-{SEED}-{i}")
    # Skew: ~30% of rows land in 2 mega-repos (FIXTURES.md §1).
    if i % 10 < 3:
        repo = f"megacorp/monorepo{i % 2}"
    else:
        repo = f"org{i % 7}/repo{i % 97}"
    lang = _LANGS[i % 5]
    path = f"src/m{i % 13}/file{i}.{_EXT[lang]}"
    commit = hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]

    parts: list[str] = []
    parts.append(rng.choice(_FILLER))
    # price mention — thousands separators and optional decimals
    amount = rng.randrange(50, 99999)
    amt_txt = f"{amount:,}" if rng.random() < 0.5 else str(amount)
    if rng.random() < 0.3:
        amt_txt += f".{rng.randrange(10, 99)}"
    unit = _UNITS[i % 3]
    if i % 4 == 0:
        parts.append(f"ዋጋ {amt_txt} {unit}")
    elif i % 4 == 1:
        parts.append(f"price: {amt_txt} {unit}")
    # phone mention (10-digit 09... or 9-digit 9...)
    if i % 3 == 0:
        phone = f"09{rng.randrange(10**7, 10**8):08d}" if i % 2 else f"9{rng.randrange(10**7, 10**8):08d}"
        parts.append(f"call {phone} now")
    # product declaration via trigger word + tail
    if i % 5 != 4:
        trig = _TRIGGERS[i % 3]
        prod = rng.choice(_PRODUCTS)
        parts.append(f"{trig} {prod}")
    # SKU veto fixture (data_pipeline.py:59-61 semantics)
    if i % 7 == 0:
        parts.append(f"SKU-{rng.randrange(100, 999)}/A{rng.randrange(10, 99)}")
    # noise: URLs, emoji, NFKC-unnormalized forms, '[no text]' sentinel
    if i % 6 == 0:
        parts.append("see https://example.com/item?q=1 for details")
    if i % 8 == 0:
        parts.append("great deal 🔥🔥")
    if i % 11 == 0:
        parts.append("ﬁnal oﬀer №1")  # NFKC-decomposable ligatures
    if i % 97 == 96:
        parts = ["[no text]"]
    rng.shuffle(parts)
    content = "\n".join(parts)
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


def synth_rows(n: int, start: int = 0) -> list[dict]:
    """Pure-Python corpus slice — used by tests and the frozen oracle."""
    return [make_row(i) for i in range(start, start + n)]


def _rows_batch(ids: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([make_row(int(i)) for i in ids])


def synth_source_files(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus as a DataFrame with SOURCE_FILES schema."""
    parts = partitions or max(2, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n, 1, parts)

    def gen(iterator):
        for pdf in iterator:
            yield _rows_batch(pdf["id"])

    return base.mapInPandas(gen, schema=SOURCE_FILES)


def with_sha256(df: DataFrame) -> DataFrame:
    """Per-row invariant column (telegram_scraper.py:151-155 semantics):
    ``sha2(content, 256)`` must equal Python hashlib.sha256 — tested in
    tests/test_synth.py."""
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


# ---------------------------------------------------------------------------
# Reference-shaped messages table (FIXTURES.md §2) — vendor analytics input.
# ---------------------------------------------------------------------------

_CHANNELS = ("shageronlinestore", "ethio_market", "addis_deals", "bole_shop")


def make_message(i: int) -> dict:
    """Deterministic message row i (telegram_scraper.py:288-311 shape)."""
    rng = random.Random(f"kgforge-msg-{SEED}-{i}")
    channel = _CHANNELS[i % 4] if i != 777 else "lonely_vendor"
    base = 1_700_000_000 + (i % 7000) * 9000  # >20 ISO weeks of spread
    text: str | None
    if i % 29 == 0:
        text = None
    elif i % 31 == 0:
        text = "[no text]"
    else:
        parts = [rng.choice(_FILLER)]
        if i % 3 != 2:
            amt = rng.randrange(100, 50000)
            parts.append(f"ዋጋ {amt:,} ብር" if i % 2 else f"price {amt} birr")
        if i % 5 == 0:
            parts.append(f"call 09{rng.randrange(10**7, 10**8):08d}")
        if i % 4 != 3:
            parts.append(f"{_TRIGGERS[i % 3]} {rng.choice(_PRODUCTS)}")
        text = " ".join(parts)
    views = 0 if i % 23 == 0 else rng.randrange(10, 50000)
    return {
        "channel": channel,
        "channel_title": channel.replace("_", " ").title(),
        "message_id": i,
        "text": text,
        "date": base,  # unix seconds; cast to timestamp in the DataFrame
        "views": views,
        "forwards": rng.randrange(0, 500),
        "replies": float(rng.randrange(0, 60)) if i % 6 else None,
        "has_media": i % 2 == 0,
        "media_type": "photo" if i % 2 == 0 else None,
        "media_size": float(rng.randrange(10_000, 5_000_000)) if i % 2 == 0 else None,
        "message_hash": hashlib.sha256((text or "").encode()).hexdigest(),
    }


MESSAGES_SCHEMA = (
    "channel string, channel_title string, message_id long, text string, "
    "date long, views long, forwards long, replies double, has_media boolean, "
    "media_type string, media_size double, message_hash string"
)


def synth_messages(spark: SparkSession, n: int = 600) -> DataFrame:
    """Reference-shaped messages/posts table (FIXTURES.md §2), distributed."""
    base = spark.range(0, n, 1, max(2, spark.sparkContext.defaultParallelism))

    def gen(iterator):
        for pdf in iterator:
            yield pd.DataFrame([make_message(int(i)) for i in pdf["id"]])

    df = base.mapInPandas(gen, schema=MESSAGES_SCHEMA)
    return df.withColumn("date", F.col("date").cast("timestamp"))
