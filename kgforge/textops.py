"""Training-data pipeline text operators over the ``documents`` table.

First-class components for 100 TB corpus curation (task brief): benchmark
decontamination (exact and Bloom), MinHash document fingerprinting,
language-ID heuristics, quality scoring and token statistics — all pure
Catalyst (whole-stage codegen, no Python), each with a DuckDB-expressible
oracle in kgforge.queries.

Portability note: the hashing primitives use ``md5`` (identical hex in
Spark and DuckDB), so each one is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column) -> Column:
    """Whitespace tokenizer (F14) — documents.text is single-spaced."""
    return F.split(col, " ")


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> (MinHash input)."""
    toks = tokens(col)
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )


def decontaminate_hits(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct k-word
    n-grams shared with an eval/benchmark set (the Dolma / GPT-3 appendix-C
    discipline — training docs overlapping held-out eval n-grams are
    flagged and dropped before training).

    Scale shape (the reason this is a first-class operator): the eval side
    is always tiny relative to a 100 TB corpus (benchmarks are a few
    thousand docs -> at most a few million distinct n-grams), so its
    distinct n-gram set is **broadcast** and the corpus side stays map-only
    — explode to per-doc distinct n-grams, broadcast-hash semi-probe, then
    one partial-agg-friendly groupBy(doc_id). No corpus-side shuffle except
    the final per-doc count, which AQE coalesces. Production uses k=8..13;
    tests use k=3 because the synthetic docs are short.
    """
    ngrams = word_shingles(F.col(text_col), k)
    eval_ngrams = (
        eval_df.select(F.explode(ngrams).alias("ngram")).distinct()
    )
    doc_ngrams = corpus.select(
        F.col(id_col), F.explode(ngrams).alias("ngram")
    ).distinct()
    return (
        doc_ngrams.join(F.broadcast(eval_ngrams), "ngram")
        .groupBy(id_col)
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") >= min_hits)
    )


def bloom_decontaminate_hits(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    depths: int = 3,
    hex_chars: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination: the BOUNDED-size variant of
    ``decontaminate_hits`` for when even the eval n-gram set is too large
    to broadcast exactly (a full benchmark suite at k=13 reaches hundreds
    of millions of distinct n-grams; a Bloom filter of any eval set is
    ``depths * 16^hex_chars`` positions, here 3x4096).

    Bit positions are (depth, hex-prefix-of-md5) pairs — engine-portable
    strings (no binary sketch blob), so the whole sketch (including
    its deterministic false positives: that is the sketch contract, a
    superset never a miss) is reproducible in the DuckDB oracle and
    HASH-verified. Scale shape: the bit set is built from the tiny eval
    side and broadcast; the corpus side explodes to distinct per-doc
    n-grams map-side, probes the broadcast bits, and keeps an n-gram only
    when ALL ``depths`` positions are set; one partial-agg per-doc count.
    Production swaps the string positions for a real bitmap UDF — the
    dataflow (broadcast sketch, map-only probe) is identical.
    """
    spark = corpus.sparkSession
    ngrams = word_shingles(F.col(text_col), k)
    depth_df = F.broadcast(
        spark.range(depths).select(F.col("id").cast("int").alias("d"))
    )

    def pos(ng: Column) -> Column:
        return F.substring(
            F.md5(F.concat(F.col("d").cast("string"), F.lit("|"), ng)),
            1,
            hex_chars,
        )

    bits = (
        eval_df.select(F.explode(ngrams).alias("ngram"))
        .crossJoin(depth_df)
        .select("d", pos(F.col("ngram")).alias("pos"))
        .distinct()
    )
    probes = (
        corpus.select(F.col(id_col), F.explode(ngrams).alias("ngram"))
        .distinct()
        .crossJoin(depth_df)
        .select(id_col, "ngram", "d", pos(F.col("ngram")).alias("pos"))
    )
    maybe = (
        probes.join(F.broadcast(bits), ["d", "pos"])
        .groupBy(id_col, "ngram")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") == depths)
    )
    return maybe.groupBy(id_col).agg(F.count("*").alias("maybe_hits"))


def minhash_band_sig(shingle_arr: Column, band: int) -> Column:
    """One band's MinHash signature: lexicographic min of md5(band || shingle).

    min over md5 strings is a valid permutation-free MinHash variant and is
    bit-identical in DuckDB (md5 + list min), making LSH oracle-checkable.
    """
    return F.array_min(
        F.transform(
            shingle_arr, lambda s: F.md5(F.concat(F.lit(f"b{band}|"), s))
        )
    )


def stopword_ratio(col: Column) -> Column:
    toks = tokens(col)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return sw.cast("double") / F.size(toks).cast("double")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / stopword quality features + clamped linear score
    (F18/F19 min-max + weighted-score semantics,
    reference: metrics_calculator.py:100-116)."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tokens = F.size(toks)
    avg_tok_len = (F.length(c) - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
    sw_ratio = stopword_ratio(c)
    score = F.least(
        F.lit(100.0),
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(100.0)) * 50.0
            + sw_ratio * 30.0
            + F.least(F.lit(1.0), avg_tok_len / F.lit(10.0)) * 20.0,
        ),
    )
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_tok_len, 4).alias("avg_token_len"),
        F.round(sw_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def lang_scores(col: Column) -> dict[str, Column]:
    """n-gram/stopword language-ID heuristic (deterministic, oracle-checkable)."""
    toks = tokens(col)
    markers = {
        "en": ("the", "a", "and"),
        "es": ("el", "la", "de"),
        "de": ("der", "die", "das"),
        "fr": ("le", "la", "et"),
    }
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in markers.items()
    }
