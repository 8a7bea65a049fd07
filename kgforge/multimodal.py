"""Media as ``binary`` columns: the Spark-side plumbing of q33.

The reference OCRs images with Tesseract in a sequential file loop
(reference: src/preprocessing/data_cleaner.py:102-182). kgforge treats
media as ``binary`` columns with typed metadata extracted by Arrow-batched
``mapInPandas``. The codec is a deterministic stub (``decode_stub``), so
the q33 aggregate stays DuckDB-expressible; ``resize_nearest`` is the
one image primitive left.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """True nearest-neighbor resize via integer index gather."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def decode_stub(blob: bytes) -> dict:
    """Deterministic fake decode: metadata derivable from the bytes alone
    (kept for the q33 oracle, which must be DuckDB-expressible)."""
    n = len(blob)
    return {"n_bytes": n, "n_frames": n % 7 + 1}


MEDIA_META = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a media column: utf-8 bytes of the text as the blob."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def extract_media_meta(df: DataFrame) -> DataFrame:
    """binary payload -> typed metadata via Arrow-batched mapInPandas.

    This is the exact shape a real image/audio feature extractor takes:
    batched bytes in, struct metadata out, executor-parallel, no shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_stub(b) for b in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(run, schema=MEDIA_META)
