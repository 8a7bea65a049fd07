"""Documents: hashing, shingles, MinHash-LSH / SimHash dedup, sampling,
sequence packing, deterministic global shuffle (§2.3, brief ops):
q18-q24, q45, q50, q68 + pack_sequences/global_shuffle.

Split from the monolithic queries.py in round 5 (VERDICT r4 #8);
every (fn, sql) pair unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import textops
from kgforge.queries.core import REGISTRY, Q, q, t, _dec_sum, _exact_stddev


# ---------------------------------------------------------------------------
# Documents: hashing, regex, tokens, dedup, quality, lang-id (§2.3, brief ops)
# ---------------------------------------------------------------------------


@q(
    "q18_sha256_buckets",
    """
    SELECT substring(sha256(text), 1, 1) AS bucket,
           count(*) AS n, count(DISTINCT sha256(text)) AS n_distinct
    FROM documents GROUP BY 1
    """,
)
def q18_sha256_buckets(spark, sf_dir):
    """F10: sha2(content,256) per-row invariant, bucketed
    (telegram_scraper.py:151-155)."""
    d = t(spark, sf_dir, "documents")
    sha = F.sha2(F.col("text"), 256)
    return d.groupBy(F.substring(sha, 1, 1).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_distinct"),
    )


@q(
    "q19_regex_extract",
    """
    SELECT tok AS keyword, count(*) AS n
    FROM (SELECT unnest(regexp_extract_all(text, '(spark|join|hash|merge)', 1)) AS tok
          FROM documents)
    GROUP BY tok
    """,
)
def q19_regex_extract(spark, sf_dir):
    """F1-F3 shape: regexp_extract_all -> explode -> count (the entity
    extraction triple, data_cleaner.py:70-79)."""
    d = t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit("(spark|join|hash|merge)"), 1)
    return (
        d.select(F.explode(toks).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q20_token_counts",
    """
    SELECT tok AS token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok ORDER BY n DESC, token LIMIT 20
    """,
)
def q20_token_counts(spark, sf_dir):
    """F14+A1: tokenize -> explode -> tag-distribution-style count
    (data_pipeline.py:264-265)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@q(
    "q21_exact_dedup",
    """
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           count(*) - count(DISTINCT md5(text)) AS n_dup_docs
    FROM documents
    """,
)
def q21_exact_dedup(spark, sf_dir):
    """Exact dedup via content hash (training-data pipeline op #1)."""
    d = t(spark, sf_dir, "documents")
    md = F.md5(F.col("text"))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(md).alias("n_distinct_texts"),
        (F.count("*") - F.countDistinct(md)).alias("n_dup_docs"),
    )


_SHINGLE_SQL = """
        list_transform(
            range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
            i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
        )
"""


@q(
    "q22_minhash_lsh",
    f"""
    WITH sigs AS (
        SELECT doc_id, b.band,
               list_aggregate(
                   list_transform({_SHINGLE_SQL},
                                  s -> md5('b' || b.band || '|' || s)),
                   'min') AS sig
        FROM documents, (SELECT unnest([0, 1]) AS band) b
    ), buckets AS (
        SELECT band, sig, count(*) AS n FROM sigs GROUP BY band, sig
    )
    SELECT band, count(*) AS n_buckets,
           sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::bigint AS n_multi_buckets,
           sum(n * (n - 1) / 2)::double AS n_candidate_pairs
    FROM buckets GROUP BY band
    """,
)
def q22_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup blocking: shingle -> banded min-hash ->
    bucket stats (same structure as kgforge.link at scale).

    r7: ONE pass over documents — the shingle array is materialized once
    as a projection and both band signatures are computed from it in the
    same select, then posexplode'd to (band, sig) rows. The old
    per-band-union shape scanned, split, and shingled every document once
    PER BAND (the shingle build — split + sequence + slice + concat_ws —
    dominated the query, and Catalyst cannot CSE it across the union's
    branches). Results identical: same (band, sig) multiset."""
    d = t(spark, sf_dir, "documents", spread=True)
    sh = textops.word_shingles(F.col("text"), 3)
    sigs = d.select(sh.alias("_sh")).select(
        F.posexplode(
            F.array(
                textops.minhash_band_sig(F.col("_sh"), 0),
                textops.minhash_band_sig(F.col("_sh"), 1),
            )
        ).alias("band", "sig")
    )
    buckets = sigs.groupBy("band", "sig").agg(F.count("*").alias("n"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_multi_buckets"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("double").alias(
            "n_candidate_pairs"
        ),
    )


@q(
    "q23_ngram_jaccard",
    f"""
    WITH sigs AS (
        SELECT doc_id,
               list_aggregate(
                   list_transform({_SHINGLE_SQL}, s -> md5('b0|' || s)),
                   'min') AS sig
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
    ), toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT p.a_id, p.b_id, count(*) AS i
        FROM pairs p
        JOIN toks ta ON ta.doc_id = p.a_id
        JOIN toks tb ON tb.doc_id = p.b_id AND tb.tok = ta.tok
        GROUP BY p.a_id, p.b_id
    )
    SELECT i.a_id, i.b_id,
           round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    """,
)
def q23_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup scoring over LSH-blocked pairs only
    (never O(n^2) — the blocked-join scale shape)."""
    d = t(spark, sf_dir, "documents")
    sh = textops.word_shingles(F.col("text"), 3)
    sigs = d.select(
        "doc_id", textops.minhash_band_sig(sh, 0).alias("sig")
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.sig") == F.col("b.sig")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))

    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.alias("ta")
    tb = toks.alias("tb")
    inter = (
        pairs.join(ta, F.col("ta.doc_id") == F.col("a_id"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("b_id")) & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i")), 4
            ).alias("jaccard"),
        )
    )


def _simhash_sql() -> str:
    bit_terms = []
    for b in range(16):
        bit_terms.append(
            f"""CASE WHEN list_sum(list_transform(string_split(text, ' '),
                t -> CASE WHEN substring(md5(t), {b + 1}, 1)
                          IN ('1','3','5','7','9','b','d','f')
                     THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"""
        )
    return " + ".join(bit_terms)


@q(
    "q24_simhash",
    f"""
    SELECT simhash, count(*) AS n
    FROM (SELECT ({_simhash_sql()}) AS simhash FROM documents)
    GROUP BY simhash
    """,
)
def q24_simhash(spark, sf_dir):
    """SimHash near-dup fingerprint (16-bit), histogram by signature.

    r7: runs through ``with_simhash16_md5`` — one md5 per token with the
    digit parities packed into a materialized per-token mask, then 16
    shift/mask folds — instead of ``simhash16``'s inline-md5 folds that
    hashed every token 16x. Bit-identical (same oracle SQL, hash-green);
    measured 22.4s -> see OPTIMIZATION_r07.md at sf1."""
    d = t(spark, sf_dir, "documents", spread=True)
    return (
        textops.with_simhash16_md5(d.select("text"), "text")
        .groupBy("simhash")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q45_stratified_sample",
    """
    SELECT source, count(*) AS n_kept
    FROM documents
    WHERE md5(cast(doc_id AS varchar)) <
          CASE source WHEN 'src0' THEN '8' WHEN 'src1' THEN '4' ELSE '1a' END
    GROUP BY source
    """,
)
def q45_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (training-data domain mixing):
    keep a doc iff md5(doc_id) falls under its source's rate threshold
    (50% / 25% / ~10%) — hash-threshold sampling is reproducible across
    engines, runs, and partitionings, unlike rand()-based TABLESAMPLE, and
    is exactly how corpus mixture weights are applied at 100 TB (pure
    map-side filter, no shuffle)."""
    d = t(spark, sf_dir, "documents")
    thr = (
        F.when(F.col("source") == "src0", F.lit("8"))
        .when(F.col("source") == "src1", F.lit("4"))
        .otherwise(F.lit("1a"))
    )
    return (
        d.filter(F.md5(F.col("doc_id").cast("string")) < thr)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    n_shards: int = 64,
    shard_col=None,
) -> DataFrame:
    """Sharded sequence packing — the 100 TB path (VERDICT r2 #3).

    ``Window.partitionBy(lang)`` alone gives ONE reducer task per language:
    at corpus scale the dominant language is ~half the rows flowing through
    a single task's sort. Here the window partitions by (lang, shard) with
    shard = pmod(xxhash64(doc_id), n_shards) — n_shards independent sorts
    per language, each ~1/n_shards of the data — and pack ids are made
    unique PER LANGUAGE by offsetting with the shard (shard * 2^40 +
    local id, disjoint within a language because a shard's local ids are
    < 2^40 at any real scale). Two languages sharing a shard reuse the
    same pack_id values, so consumers MUST key on (lang, pack_id) — as
    q50 does (ADVICE r3).
    Packing quality is unchanged: a greedy cumsum pack within any doc
    subset still fills ~budget tokens per pack; only WHICH docs share a
    pack differs from the global order (an explicitly order-free contract
    for pretraining mixes).

    ``shard_col`` overrides the shard expression (the oracle query passes
    ``doc_id % S`` so DuckDB can reproduce the exact assignment; production
    keeps the hash default, which also absorbs adversarial doc_id
    patterns).

    Returns (lang, shard, pack_id, doc_id, n_tokens).
    """
    sized = docs.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
    )
    sized = sized.withColumn("shard", shard.cast("long"))
    w = Window.partitionBy("lang", "shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return sized.withColumn(
        "pack_id",
        F.col("shard") * F.lit(1 << 40)
        + F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(budget)),
    )


@q(
    "q50_sequence_packing_sharded",
    """
    WITH sized AS (
        SELECT lang, doc_id, doc_id % 8 AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT lang, shard, n_tokens,
               shard * 1099511627776
               + floor((sum(n_tokens) OVER (
                     PARTITION BY lang, shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS pack_id
        FROM sized
    ), packs AS (
        SELECT lang, pack_id, count(*) AS n_docs,
               sum(n_tokens)::bigint AS n_tokens
        FROM packed GROUP BY lang, pack_id
    )
    SELECT lang, count(*) AS n_packs, max(n_tokens) AS max_pack_tokens,
           round(avg(n_docs), 4) AS avg_docs_per_pack
    FROM packs GROUP BY lang
    """,
)
def q50_sequence_packing_sharded(spark, sf_dir):
    """The sharded (scale-path) packing, oracle-checked: shard = doc_id % 8
    here so DuckDB reproduces the exact assignment; production default is
    pmod(xxhash64(doc_id), S)."""
    d = t(spark, sf_dir, "documents")
    packed = pack_sequences(
        d, budget=2048, n_shards=8, shard_col=F.pmod(F.col("doc_id"), F.lit(8))
    )
    packs = packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    return packs.groupBy("lang").agg(
        F.count("*").alias("n_packs"),
        F.max("n_tokens").alias("max_pack_tokens"),
        F.round(F.avg("n_docs"), 4).alias("avg_docs_per_pack"),
    )


def global_shuffle(docs: DataFrame, seed: int = 42, key_col: str = "doc_id") -> DataFrame:
    """Deterministic global training-order shuffle (VERDICT r3 #7) — the
    standard LLM-pipeline op of fixing a reproducible corpus order before
    sequence packing (feeds pack_sequences/q50).

    Order = sort by md5(seed ':' key): a pure function of (seed, row key),
    so the permutation is identical across engines, partition counts, and
    input orders — unlike Spark's own ``rand(seed)``, whose draws depend on
    partition layout. Spark executes ``orderBy`` as a range-partitioned
    distributed sort (sample -> range boundaries -> shuffle -> in-partition
    sort): every partition sorts ~1/N of the corpus, no single-reducer
    stage (plan-asserted in tests). The 100 TB path swaps xxhash64 for md5
    (~3x cheaper per r3's measured A/B, same shape) at the cost of DuckDB
    reproducibility; md5 is the oracle-checkable twin.
    """
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(key_col).cast("string"))
    )
    return docs.withColumn("shuffle_key", key).orderBy("shuffle_key", key_col)


@q(
    "q68_global_shuffle",
    """
    WITH keyed AS (
        SELECT doc_id, md5('42:' || doc_id) AS shuffle_key FROM documents
    ), topn AS (
        SELECT doc_id, shuffle_key FROM keyed
        ORDER BY shuffle_key, doc_id LIMIT 50
    )
    SELECT row_number() OVER (ORDER BY shuffle_key, doc_id) AS position,
           doc_id, shuffle_key
    FROM topn
    """,
)
def q68_global_shuffle(spark, sf_dir):
    """Seeded corpus shuffle, oracle-checked: the first 50 docs of the
    seed-42 global order with their positions and keys. The limit keeps
    the oracle row set small; the FULL permutation's determinism (seed
    stability, partitioning invariance, distinct seeds -> distinct orders)
    is property-tested in tests/test_textops.py."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    top = global_shuffle(d, seed=42).limit(50)
    w = Window.orderBy("shuffle_key", "doc_id")
    return top.withColumn("position", F.row_number().over(w)).select(
        "position", "doc_id", "shuffle_key"
    )


