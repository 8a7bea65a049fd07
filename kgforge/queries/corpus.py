"""Corpus/pretraining-pipeline operators: range joins (incl. the
large-large grid path), temperature mixing, quantization, decontam,
TF-IDF, quality/PII/repetition, length percentiles, CDC upsert, funnel,
LOCF, keep-best dedup, cogroup, lang-id, fingerprints: q25-q28,
q47-q48, q52-q54, q56-q57, q60-q65, q67, q69-q74, q76-q78, q81-q82.

Split from the monolithic queries.py in round 5 (VERDICT r4 #8);
every (fn, sql) pair unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge import textops
from kgforge.queries.core import q, t, _dec_sum
import pandas as pd


_SHINGLE_SQL = """
        list_transform(
            range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
            i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
        )
"""

_EMAIL_PAT = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_LONGNUM_PAT = r"[0-9]{9,}"
_URL_PAT = r"https?://[^ ]+"

# Irregular (non-floorable) order-value bands: a true range join, not a
# width-division shortcut.
_BANDS = [(0, 900), (900, 2500), (2500, 7000), (7000, 20000), (20000, 10**9)]


@q(
    "q54_range_join_bands",
    f"""
    WITH bands(band_id, lo, hi) AS (VALUES
        {", ".join(f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(_BANDS))}
    )
    SELECT band_id, cast(lo AS double) AS lo,
           count(*) AS n_orders,
           sum(cast(o_totalprice AS decimal(18,2)))::double AS sum_price
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id, lo
    """,
)
def q54_range_join_bands(spark, sf_dir):
    """Range join (an operator Spark lacks natively — the brief's as-of /
    range-join family): each order lands in the irregular value band
    containing its price, via a BROADCAST non-equi join. Scale shape: the
    band table is always tiny -> BroadcastNestedLoopJoin keeps the fact
    side map-only (no shuffle before the band agg); for two LARGE interval
    sets the same semantics would bucket both sides by overlapping coarse
    grid cells first and equi-join on the cell (``grid_range_join``, q69)."""
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    bands = spark.createDataFrame(
        [(i, float(lo), float(hi)) for i, (lo, hi) in enumerate(_BANDS)],
        "band_id int, lo double, hi double",
    )
    j = o.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return j.groupBy("band_id", "lo").agg(
        F.count("*").alias("n_orders"),
        _dec_sum(F.col("o_totalprice")).alias("sum_price"),
    )


def grid_range_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    cell: float = 1000.0,
) -> DataFrame:
    """LARGE-LARGE range join via coarse-grid bucketing (VERDICT r3 #8 —
    the documented scale variant q54's broadcast path can't cover).

    Neither side broadcasts: intervals explode to the grid cells they
    overlap (sequence(floor(lo/cell), floor((hi-eps)/cell)) — cheap when
    cell ~ interval width, so each interval lands in O(1) cells), points
    map to exactly ONE cell (floor(v/cell) — no post-join dedup needed),
    and the two sides meet in a shuffled EQUI-join on cell followed by the
    exact lo <= v < hi filter. Plan-asserted: SortMergeJoin, no broadcast,
    no cartesian (tests/test_plans.py). Skewed cells (a hot value range)
    are handled by AQE skew-join the same as any equi-join; cell size
    trades explode factor against per-cell fan-in.
    """
    eps = 1e-9
    # drop empty/inverted intervals BEFORE the sequence: hi <= lo can
    # never match (v >= lo AND v < hi is unsatisfiable), and Spark's
    # sequence(start, stop) with start > stop silently produces a
    # DESCENDING range — an inverted interval would explode into millions
    # of spurious cells (code-review r4)
    cells = intervals.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / cell),
                F.floor((F.col(hi_col) - F.lit(eps)) / cell),
            )
        ),
    )
    pts = points.withColumn("cell", F.floor(F.col(value_col) / cell))
    return pts.join(cells.hint("merge"), "cell").filter(
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    )


@q(
    "q69_range_join_grid",
    """
    WITH bands AS (
        SELECT i AS band_id, (i * 500)::double AS lo,
               (i * 500 + 2200)::double AS hi
        FROM range(0, 200) t(i)
    )
    SELECT band_id, count(*) AS n_orders,
           sum(cast(o_totalprice AS decimal(18,2)))::double AS sum_price
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id
    """,
)
def q69_range_join_grid(spark, sf_dir):
    """The large-large range join: 200 overlapping price bands x orders
    through grid_range_join (cell=1000, each band spans ~3 cells), agg per
    band. The DuckDB oracle runs the plain non-equi join — identical
    results prove the grid decomposition is lossless. The Spark side
    deliberately avoids broadcast (merge hint): this is the shape both
    sides keep at fact-scale."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.range(0, 200).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 500).cast("double").alias("lo"),
        (F.col("id") * 500 + 2200).cast("double").alias("hi"),
    )
    j = grid_range_join(o, bands, "o_totalprice", cell=1000.0)
    return j.groupBy("band_id").agg(
        F.count("*").alias("n_orders"),
        _dec_sum(F.col("o_totalprice")).alias("sum_price"),
    )


@q(
    "q70_domain_mix_temperature",
    """
    WITH counts AS (
        SELECT source, count(*) AS n_s,
               CAST(round(sqrt(n_s) * 1000000) AS BIGINT) AS w_q
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(w_q) AS w_tot_q, sum(n_s) AS n_tot FROM counts
    ), rates AS (
        SELECT source, n_s,
               CAST(round(least(1.0,
                   (w_q / w_tot_q) * (n_tot / 2.0) / n_s) * 1000000)
                    AS BIGINT) AS rate_ppm
        FROM counts, tot
    )
    SELECT r.source, r.n_s, r.rate_ppm, count(*) AS n_kept
    FROM documents d JOIN rates r USING (source)
    WHERE (((d.doc_id % 2147483647) * 48271) % 2147483647) % 1000000
          < r.rate_ppm
    GROUP BY r.source, r.n_s, r.rate_ppm
    """,
)
def q70_domain_mix_temperature(spark, sf_dir):
    """Temperature-weighted domain mixing (the pretraining-mix op):
    per-source sampling rates DERIVED from the data — weight w_s = n_s^T
    with T=0.5 (sqrt upsamples rare sources,
    the standard multilingual/multi-domain reweighting), target half the
    corpus, rate_s = min(1, share_s * N_target / n_s) quantized to ppm so
    the keep decision is an exact INTEGER comparison in both engines.
    Keep iff lehmer_hash(doc_id) ppm-bucket < rate_ppm: deterministic
    across engines/partitionings, with the rate table
    computed from a tiny per-source agg that is broadcast back — the
    corpus side stays one map-side filter (no shuffle of the 100 TB fact
    table). The hash is a MINSTD Lehmer step ((id mod 2^31-1) * 48271
    mod 2^31-1): every intermediate fits int64 for ANY doc_id (the
    earlier Knuth multiply overflowed past doc_id ~3.5e9 — wrapping in
    Spark, erroring in DuckDB; code-review r4). Ids 2^31-1 apart share a
    keep decision — irrelevant statistically at trillion-doc scale, and
    production swaps xxhash64 for the Lehmer step anyway.

    Determinism (ADVICE r4): the temperature weights are quantized to
    integer micros (w_q = round(sqrt(n_s)*1e6), never a .5 boundary since
    sqrt(int) is either irrational or integral) BEFORE summing, so w_tot
    is an exact integer sum — order-independent across Spark partial-agg
    order, DuckDB scan order, and reruns. The old sum(sqrt(n_s)) was an
    order-dependent float reduction that could flip a rate_ppm landing
    within an ulp of a rounding boundary."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s")).withColumn(
        "w_q", F.round(F.sqrt("n_s") * 1000000).cast("long")
    )
    tot = counts.agg(
        F.sum("w_q").alias("w_tot_q"), F.sum("n_s").alias("n_tot")
    )
    rates = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("w_q") / F.col("w_tot_q"))
                    * (F.col("n_tot") / F.lit(2.0))
                    / F.col("n_s"),
                )
                * 1000000
            )
            .cast("long")
            .alias("rate_ppm"),
        )
    )
    h = (
        ((F.col("doc_id") % F.lit(2147483647)) * F.lit(48271))
        % F.lit(2147483647)
    ) % F.lit(1000000)
    kept = d.join(F.broadcast(rates), "source").filter(h < F.col("rate_ppm"))
    return kept.groupBy("source", "n_s", "rate_ppm").agg(
        F.count("*").alias("n_kept")
    )


@q(
    "q71_embedding_quantize_int8",
    """
    WITH q AS (
        SELECT vec_id, label,
               list_min(embedding)::double AS zero_point,
               (list_max(embedding)::double - list_min(embedding)::double)
                   / 255.0 AS scale,
               list_sum(list_transform(embedding, x ->
                   CASE WHEN list_max(embedding) = list_min(embedding)
                        THEN 0.0
                        ELSE round((x::double - list_min(embedding)::double) /
                             ((list_max(embedding)::double
                               - list_min(embedding)::double) / 255.0))
                   END
               ))::bigint AS qsum
        FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           sum(qsum)::bigint AS total_qsum,
           round(avg(scale), 6) AS avg_scale,
           round(avg(zero_point), 6) AS avg_zero
    FROM q GROUP BY label
    """,
)
def q71_embedding_quantize_int8(spark, sf_dir):
    """Per-vector affine int8 quantization (the storage/ANN-compression
    op for embedding tables at 100 TB): scale=(max-min)/255, zero=min,
    q_i = round((x_i-zero)/scale) — all inside Catalyst array expressions
    (aggregate/transform), zero Python, map-only until the per-label agg.
    The per-vector quantized checksum (exact integer) makes every element
    of every vector part of the verified result. Elementwise double math
    is engine-deterministic (no accumulation-order dependence; qsum is a
    sum of exact small integers)."""
    e = t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    vmin = F.array_min(emb).cast("double")
    vmax = F.array_max(emb).cast("double")
    scale = (vmax - vmin) / F.lit(255.0)
    # constant vector -> scale 0: quantized value defined as 0 (every
    # element equals the zero point); without the guard Spark folds NaN
    # to 0 while DuckDB yields NULL — an engine mismatch (code-review r4)
    qelem = lambda x: F.when(  # noqa: E731
        vmax == vmin, F.lit(0.0)
    ).otherwise(F.round((x.cast("double") - vmin) / scale))
    qsum = F.aggregate(
        F.transform(emb, qelem), F.lit(0.0), lambda acc, v: acc + v
    ).cast("long")
    per_vec = e.select(
        "vec_id",
        "label",
        vmin.alias("zero_point"),
        scale.alias("scale"),
        qsum.alias("qsum"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("qsum").alias("total_qsum"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
        F.round(F.avg("zero_point"), 6).alias("avg_zero"),
    )


@q(
    "q56_decontamination",
    f"""
    WITH eval_ngrams AS (
        SELECT DISTINCT unnest({_SHINGLE_SQL}) AS ngram
        FROM documents WHERE doc_id % 97 = 0
    ), doc_ngrams AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL}) AS ngram
        FROM documents WHERE doc_id % 97 <> 0
    )
    SELECT d.doc_id, count(*) AS hits
    FROM doc_ngrams d JOIN eval_ngrams e USING (ngram)
    GROUP BY d.doc_id
    """,
)
def q56_decontamination(spark, sf_dir):
    """Benchmark decontamination (training-data hygiene): flag corpus
    documents sharing 3-word n-grams with a deterministic held-out "eval
    set" (doc_id % 97 == 0 stands in for the benchmark). Eval n-gram set
    is broadcast — corpus side stays map-only until the per-doc hit count.
    See textops.decontaminate_hits for the 100 TB shape."""
    d = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return textops.decontaminate_hits(
        d.filter(~is_eval), d.filter(is_eval), k=3, min_hits=1
    )


@q(
    "q57_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT doc_id, term,
               round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rk FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def q57_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document (keyword extraction / vocab-building
    text analysis). Smoothed IDF = ln((N+1)/(df+1)) + 1; scores ROUNDED to
    4dp BEFORE ranking in both engines so the rank is engine-portable
    (ties broken by term). Scale shape: tf and df are partial-agg-friendly
    groupBys on (doc, term)/(term); the corpus count N joins in as a
    broadcast single-row cross join (never a collect); top-3 via
    per-doc-partitioned row_number — Catalyst turns the filter into
    WindowGroupLimit (partial top-k before the shuffle). r7: spread was
    A/B'd and REVERTED here — q57 is only driver-timed on the 10x staged
    leg whose 32-file layout already fans out the scan, and there the
    extra exchange lost (warm 6.9s plain vs 8.5s spread)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(textops.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


@q(
    "q52_url_boilerplate",
    f"""
    WITH aug AS (
        SELECT doc_id, lang,
               text || CASE WHEN doc_id % 5 = 0
                    THEN ' see https://ex.org/p/' || cast(doc_id AS varchar)
                         || ' and http://m.ex.org/' || cast(doc_id AS varchar)
                    ELSE '' END AS text
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           sum(len(regexp_extract_all(text, '{_URL_PAT}')))::bigint AS n_urls,
           sum(CASE WHEN regexp_matches(text, '{_URL_PAT}')
                    THEN 1 ELSE 0 END)::bigint AS n_docs_with_url,
           sum(length(regexp_replace(text, '{_URL_PAT}', '', 'g'))
               - length(text))::bigint AS stripped_delta
    FROM aug GROUP BY lang
    """,
)
def q52_url_boilerplate(spark, sf_dir):
    """URL extraction + boilerplate stripping (training-data hygiene, the
    C4-style cleanup pass): per language, count URLs, URL-bearing docs, and
    the character delta after stripping. The synthetic corpus is URL-free,
    so every 5th doc is deterministically augmented (q47's technique).
    Pure Catalyst regexp, map-side before the one lang agg."""
    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" see https://ex.org/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit(" and http://m.ex.org/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    stripped = F.regexp_replace(F.col("text"), _URL_PAT, "")
    return aug.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(_URL_PAT), 0))).alias(
            "n_urls"
        ),
        F.sum(
            F.when(F.col("text").rlike(_URL_PAT), 1).otherwise(0)
        ).alias("n_docs_with_url"),
        F.sum(F.length(stripped) - F.length("text")).alias("stripped_delta"),
    )


@q(
    "q53_repetition_ratio",
    """
    WITH r AS (
        SELECT lang,
               1.0 - len(list_distinct(string_split(text, ' ')))::double
                     / len(string_split(text, ' ')) AS rep
        FROM documents
    )
    SELECT lang, round(avg(rep), 4) AS avg_repetition,
           round(max(rep), 4) AS max_repetition,
           sum(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END)::bigint AS n_repetitive
    FROM r GROUP BY lang
    """,
)
def q53_repetition_ratio(spark, sf_dir):
    """Token-repetition ratio (Gopher-style quality gate): 1 -
    distinct/total whitespace tokens per doc, aggregated per language with
    a >0.2 repetitive-doc count. Map-side arrays, one agg shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    rep = 1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    r = d.select("lang", rep.alias("rep"))
    return r.groupBy("lang").agg(
        F.round(F.avg("rep"), 4).alias("avg_repetition"),
        F.round(F.max("rep"), 4).alias("max_repetition"),
        F.sum(F.when(F.col("rep") > 0.2, 1).otherwise(0)).alias("n_repetitive"),
    )


@q(
    "q74_cdc_upsert",
    """
    WITH updates AS (
        SELECT o_custkey
               + CASE WHEN o_custkey % 5 = 0 THEN 1000000 ELSE 0 END AS key,
               sum(cast(o_totalprice AS decimal(18,2)))::double AS new_balance
        FROM orders GROUP BY key
    ), merged AS (
        SELECT coalesce(u.key, c.c_custkey) AS key,
               CASE WHEN u.key IS NOT NULL AND c.c_custkey IS NOT NULL
                        THEN 'updated'
                    WHEN u.key IS NOT NULL THEN 'inserted'
                    ELSE 'unchanged' END AS status,
               coalesce(u.new_balance, cast(c.c_acctbal AS double))
                   AS balance
        FROM updates u FULL OUTER JOIN customer c ON u.key = c.c_custkey
    )
    SELECT status, count(*) AS n_rows,
           sum(cast(balance AS decimal(18,2)))::double AS sum_balance
    FROM merged GROUP BY status
    """,
)
def q74_cdc_upsert(spark, sf_dir):
    """MERGE / CDC upsert semantics, Spark-native (the lakehouse pattern
    behind Iceberg/Delta MERGE INTO, expressed as full-outer-join +
    coalesce since no table format runtime ships in this sandbox — the
    materialize seam in kgforge.materialize is where MERGE INTO plugs
    in): a change set (per-customer order totals, with %5==0 keys shifted
    to simulate NEW entities) upserted into the customer dim; rows
    classified updated / inserted / unchanged with balance checksums.
    Scale shape: one shuffle join co-partitioned on the merge key — at
    warehouse scale the same plan with partition pruning on the target."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    updates = (
        o.withColumn(
            "key",
            F.col("o_custkey")
            + F.when(F.col("o_custkey") % 5 == 0, 1000000).otherwise(0),
        )
        .groupBy("key")
        .agg(_dec_sum(F.col("o_totalprice")).alias("new_balance"))
    )
    merged = updates.join(
        c, updates["key"] == c["c_custkey"], "full_outer"
    ).select(
        F.coalesce(updates["key"], c["c_custkey"]).alias("key"),
        F.when(
            updates["key"].isNotNull() & c["c_custkey"].isNotNull(), "updated"
        )
        .when(updates["key"].isNotNull(), "inserted")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(
            updates["new_balance"], c["c_acctbal"].cast("double")
        ).alias("balance"),
    )
    return merged.groupBy("status").agg(
        F.count("*").alias("n_rows"),
        _dec_sum(F.col("balance")).alias("sum_balance"),
    )


@q(
    "q72_duplicated_window_ratio",
    f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL}) AS ngram
        FROM documents
    ), hot AS (
        SELECT ngram FROM sh GROUP BY ngram
        HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
        SELECT s.doc_id, count(*) AS n_windows,
               sum(CASE WHEN h.ngram IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
        FROM sh s LEFT JOIN hot h USING (ngram)
        GROUP BY s.doc_id
    )
    SELECT d.lang,
           round(avg(n_dup * 1.0 / n_windows), 4) AS avg_dup_ratio,
           sum(CASE WHEN n_dup * 2 >= n_windows THEN 1 ELSE 0 END)::bigint
               AS n_mostly_dup
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def q72_duplicated_window_ratio(spark, sf_dir):
    """Within-corpus duplicated-text measurement (the corpus-level view of
    exact substring dedup, Lee et al.'s diagnostic): per doc, the fraction
    of its distinct 3-word windows that also occur in >=2 distinct docs;
    per-language average + count of mostly-duplicated docs.

    Scale shape (r7 rewrite): per-doc DISTINCT shingles map-side
    (array_distinct before explode), then the global window count rides a
    COUNT window partitioned by ngram over the SAME exploded relation,
    followed by one partial-agg per-doc rollup. The r6 shape referenced
    the exploded relation twice (hot-set agg branch + probe join branch),
    so the corpus was scanned, split, and shingled TWICE and then paid a
    full equi-join shuffle on top — measured 34s -> 17s at sf1 (A/B, same
    JVM, results equal row-for-row). One explode, one shuffle-by-ngram,
    one per-doc partial agg. Skew note: a count window cannot be
    AQE-skew-split the way the old join could; the shingle key domain is
    per-doc-distinct 3-grams, whose hottest key is bounded by doc
    frequency; a two-phase aggregate salted on the ngram is the escape
    hatch if a corpus ever concentrates one window."""
    d = t(spark, sf_dir, "documents", spread=True)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(textops.word_shingles(F.col("text"), 3))
        ).alias("ngram"),
    )
    w = Window.partitionBy("ngram")
    per = sh.withColumn("nd", F.count("*").over(w))
    per_doc = per.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
    )
    return (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.round(F.avg(F.col("n_dup") / F.col("n_windows")), 4).alias(
                "avg_dup_ratio"
            ),
            F.sum(
                F.when(F.col("n_dup") * 2 >= F.col("n_windows"), 1).otherwise(0)
            ).alias("n_mostly_dup"),
        )
    )


@q(
    "q73_quality_filter_funnel",
    f"""
    WITH feats AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               1.0 - len(list_distinct(string_split(text, ' ')))::double
                     / len(string_split(text, ' ')) AS rep,
               len(regexp_extract_all(text, '{_URL_PAT}')) AS n_urls
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           sum(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END)::bigint AS n_too_short,
           sum(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END)::bigint AS n_repetitive,
           sum(CASE WHEN n_urls >= 1 THEN 1 ELSE 0 END)::bigint AS n_url_heavy,
           sum(CASE WHEN n_tokens >= 10 AND rep <= 0.2 AND n_urls = 0
                    THEN 1 ELSE 0 END)::bigint AS n_kept
    FROM feats GROUP BY lang
    """,
)
def q73_quality_filter_funnel(spark, sf_dir):
    """C4-style quality-filter FUNNEL: the composed keep/drop decision a
    production corpus cleaner makes (too-short OR repetitive OR URL-heavy
    -> drop), with per-language counts for every reason plus the docs
    surviving all gates. One pass, all-Catalyst (split/array_distinct/
    regexp_extract_all), single agg shuffle — the full filter chain costs
    the same as any one of its members at 100 TB."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    rep = 1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    n_urls = F.size(F.regexp_extract_all("text", F.lit(_URL_PAT), 0))
    feats = d.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        rep.alias("rep"),
        n_urls.alias("n_urls"),
    )
    keep = (
        (F.col("n_tokens") >= 10) & (F.col("rep") <= 0.2) & (F.col("n_urls") == 0)
    )
    return feats.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_tokens") < 10, 1).otherwise(0)).alias("n_too_short"),
        F.sum(F.when(F.col("rep") > 0.2, 1).otherwise(0)).alias("n_repetitive"),
        F.sum(F.when(F.col("n_urls") >= 1, 1).otherwise(0)).alias("n_url_heavy"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
    )


@q(
    "q47_pii_redaction",
    f"""
    WITH aug AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || cast(doc_id AS varchar)
                         || '@example.com or call 09' || cast(doc_id AS varchar)
                         || '1234567'
                    ELSE '' END AS text
        FROM documents
    )
    SELECT count(*) AS n_docs,
           sum(len(regexp_extract_all(text, '{_EMAIL_PAT}')))::bigint AS n_emails,
           sum(len(regexp_extract_all(text, '{_LONGNUM_PAT}')))::bigint AS n_longnums,
           sum(CASE WHEN regexp_replace(regexp_replace(text,
                     '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                     '{_LONGNUM_PAT}', '<NUM>', 'g') <> text
                    THEN 1 ELSE 0 END)::bigint AS n_redacted_docs
    FROM aug
    """,
)
def q47_pii_redaction(spark, sf_dir):
    """PII scrubbing (training-data hygiene): email + long-number redaction
    via regexp_replace chains, counted per corpus. The synthetic corpus is
    PII-free, so a deterministic augmentation (every 7th doc gets an email
    + phone) makes the oracle non-trivial. Pure Catalyst, map-only."""
    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"), F.col("doc_id").cast("string"),
                    F.lit("@example.com or call 09"),
                    F.col("doc_id").cast("string"), F.lit("1234567"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_PAT, "<EMAIL>"),
        _LONGNUM_PAT,
        "<NUM>",
    )
    return aug.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(_EMAIL_PAT), 0))).alias(
            "n_emails"
        ),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(_LONGNUM_PAT), 0))).alias(
            "n_longnums"
        ),
        F.sum(F.when(redacted != F.col("text"), 1).otherwise(0)).alias(
            "n_redacted_docs"
        ),
    )


@q(
    "q48_length_percentiles",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           round(quantile_cont(n_chars, 0.99), 4) AS p99,
           max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q48_length_percentiles(spark, sf_dir):
    """Exact length percentiles per language (corpus QC): Spark
    percentile() and DuckDB quantile_cont share the linear-interpolation
    definition, so the oracle is exact. At 100 TB swap percentile_approx
    (t-digest) in — deliberately NOT oracle'd (algorithm-dependent)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 4).alias("p99"),
        F.max("n_chars").alias("max_chars"),
    )


@q(
    "q60_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           sum(cast(props->>'k' AS bigint))::bigint AS sum_k,
           round(avg(cast(props->>'k' AS bigint)), 4) AS avg_k,
           max(cast(props->>'k' AS bigint)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q60_json_extract(spark, sf_dir):
    """Semi-structured JSON column surface (events.props is a JSON string):
    get_json_object path extraction -> typed aggregation. At scale prefer
    from_json with an explicit schema once per query (single parse,
    columnar) over repeated path probes; both stay JVM-side (Jackson), no
    Python. Map-side parse, one agg shuffle."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@q(
    "q61_cube_grouping",
    """
    SELECT event_type,
           year(ts) AS yr,
           2 * grouping(event_type) + grouping(year(ts)) AS gid,
           count(*) AS n,
           sum(cast(value AS decimal(18,2)))::double AS sum_value
    FROM events
    GROUP BY CUBE (event_type, year(ts))
    """,
)
def q61_cube_grouping(spark, sf_dir):
    """CUBE with grouping_id (multi-dimensional OLAP summary — all four
    (event_type, year) marginal combinations in ONE pass over the fact
    table instead of four scans; Spark expands grouping sets before the
    partial agg so it is still a single shuffle). grouping_id bit order
    matches 2*GROUPING(a)+GROUPING(b) in DuckDB."""
    e = t(spark, sf_dir, "events").select(
        "event_type", F.year("ts").alias("yr"), "value"
    )
    return e.cube("event_type", "yr").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


@q(
    "q62_intersect_except",
    """
    SELECT user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'click' AND value > 100
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'view' AND value > 100
    )
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100
    """,
)
def q62_intersect_except(spark, sf_dir):
    """Set-operator surface: users with a high-value click AND a high-value
    view but no high-value purchase (threshold chosen so every branch
    eliminates rows at both test scales). INTERSECT/EXCEPT compile to
    distinct + left-semi/left-anti hash joins on the same key — one shuffle
    partitioning reused across all three branches at scale."""
    e = t(spark, sf_dir, "events").filter(F.col("value") > 100)
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    views = e.filter(F.col("event_type") == "view").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(views).subtract(buys)


@q(
    "q63_unpivot_metrics",
    """
    WITH agg AS (
        SELECT l_returnflag,
               sum(cast(l_quantity AS decimal(18,2)))::double AS qty,
               sum(cast(l_extendedprice AS decimal(18,2)))::double AS price,
               sum(cast(l_discount AS decimal(18,2)))::double AS disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'price', price FROM agg
        UNION ALL
        SELECT l_returnflag, 'disc', disc FROM agg
    )
    """,
)
def q63_unpivot_metrics(spark, sf_dir):
    """Wide-to-long unpivot via ``stack`` — per-flag metric columns melt
    into (flag, metric, value) rows. stack is a generator expression
    evaluated map-side post-agg: no extra shuffle beyond the agg itself."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        _dec_sum(F.col("l_quantity")).alias("qty"),
        _dec_sum(F.col("l_extendedprice")).alias("price"),
        _dec_sum(F.col("l_discount")).alias("disc"),
    )
    return agg.select(
        "l_returnflag",
        F.expr("stack(3, 'qty', qty, 'price', price, 'disc', disc)").alias(
            "metric", "value"
        ),
    )


# LOCF bucket width (days): small enough that the test spine (~60-400
# days) actually exercises the cross-bucket carry, large enough that the
# bucket-summary relation stays tiny relative to the spine
_LOCF_BUCKET_DAYS = 8


@q(
    "q64_gap_fill_locf",
    """
    WITH bounds AS (
        SELECT min(date_trunc('day', ts))::date AS d0,
               max(date_trunc('day', ts))::date AS d1
        FROM events
    ), days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::date AS day
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), daily AS (
        SELECT event_type, date_trunc('day', ts)::date AS day,
               sum(cast(value AS decimal(18,2)))::double AS daily_value,
               count(*) AS n_events
        FROM events WHERE value > 200 GROUP BY event_type, day
    ), spine AS (
        SELECT event_type, day FROM types CROSS JOIN days
    )
    SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day,
           coalesce(d.n_events, 0) AS n_events,
           last_value(d.daily_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.day
               ROWS UNBOUNDED PRECEDING) AS locf_value
    FROM spine s LEFT JOIN daily d USING (event_type, day)
    """,
)
def q64_gap_fill_locf(spark, sf_dir):
    """Time-series gap fill: a generated date spine (sequence + explode —
    never a driver-side loop) cross-joined with the dimension, left-joined
    to sparse daily aggregates (value > 200 keeps 30-90% of cells empty at
    test scales), then last-observation-carried-forward.

    LOCF runs BUCKETED (VERDICT r5 #6 — r3/r4 used one unbounded-preceding
    window per series, which serializes a long series into a single task):

      1. within-bucket pass: last(ignorenulls) over (series, bucket) —
         buckets of _LOCF_BUCKET_DAYS days, so every window task is
         bounded and series parallelize across buckets;
      2. bucket summary: per (series, bucket) the latest observed value
         (max_by over non-null days — null-keyed rows are skipped);
      3. cross-bucket carry: the same LOCF recurrence over the SUMMARY
         relation (one row per bucket, 10^4-10^5x smaller), shifted one
         bucket back (unboundedPreceding..-1);
      4. final value = coalesce(within-bucket, carry-in).

    Identical semantics to the single-window form (the oracle is
    unchanged); the only serial scan left is over bucket summaries — at
    10^9-point series with 4096-day buckets that is ~10^5 rows, and the
    construction recurses if ever needed. Scale shape otherwise as
    before: tiny broadcast spine, one agg shuffle on the fact side.
    Leading gaps before a series' first observation stay NULL in both
    engines."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("value") > 200)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            _dec_sum(F.col("value")).alias("daily_value"),
            F.count("*").alias("n_events"),
        )
    )
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(days))
    filled = spine.join(daily, ["event_type", "day"], "left").withColumn(
        "bucket", F.floor(F.unix_date("day") / F.lit(_LOCF_BUCKET_DAYS))
    )
    w_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = filled.withColumn(
        "locf_in", F.last("daily_value", ignorenulls=True).over(w_in)
    )
    blast = filled.groupBy("event_type", "bucket").agg(
        # latest observed value in the bucket; rows with no observation
        # carry a NULL ordering key, which max_by skips
        F.max_by(
            "daily_value",
            F.when(F.col("daily_value").isNotNull(), F.col("day")),
        ).alias("blast")
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = blast.withColumn(
        "carry_in", F.last("blast", ignorenulls=True).over(w_carry)
    ).select("event_type", "bucket", "carry_in")
    # day emitted as yyyy-MM-dd string: the cross-engine comparator
    # stringifies DATE and TIMESTAMP differently
    return within.join(carry, ["event_type", "bucket"], "left").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("locf_in", "carry_in").alias("locf_value"),
    )


@q(
    "q65_dedup_keep_best",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               array_to_string((string_split(text, ' '))[1:5], ' ') AS dkey
        FROM documents
    ), ranked AS (
        SELECT doc_id, n_chars, dkey,
               row_number() OVER (
                   PARTITION BY dkey ORDER BY n_chars DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY dkey) AS group_size
        FROM keyed
    )
    SELECT doc_id, n_chars, group_size
    FROM ranked WHERE rk = 1
    """,
)
def q65_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup: among documents sharing a 5-token prefix
    fingerprint (title/URL-prefix-style key — 24 real collisions at test
    scale), KEEP THE BEST copy (longest, tie by min doc_id) rather than an
    arbitrary one — the policy real training pipelines want (drop the
    truncated scrape, keep the full page). One window over the key
    partitioning does rank + group size in a single shuffle; at 100 TB the
    same shape runs per near-dup CLUSTER (a connected component of MinHash
    candidate pairs) with a learned quality score in place of length."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("dkey"),
    )
    wk = Window.partitionBy("dkey")
    ranked = keyed.select(
        "doc_id",
        "n_chars",
        F.row_number()
        .over(wk.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rk"),
        F.count("*").over(wk).alias("group_size"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "doc_id", "n_chars", "group_size"
    )


@q(
    "q67_cogroup_funnel",
    """
    WITH clicks AS (
        SELECT user_id, min(ts) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ), buys AS (
        SELECT e.user_id, min(e.ts) AS first_buy
        FROM events e JOIN clicks c
          ON e.user_id = c.user_id AND e.ts > c.first_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT c.user_id,
           epoch_us(c.first_click) AS first_click_us,
           epoch_us(b.first_buy) AS first_buy_us,
           epoch_us(b.first_buy) - epoch_us(c.first_click) AS lag_us
    FROM clicks c LEFT JOIN buys b USING (user_id)
    """,
)
def q67_cogroup_funnel(spark, sf_dir):
    """Cogrouped applyInPandas (the remaining pandas-API entry point):
    per-user funnel reconciliation — first click, first purchase strictly
    AFTER that click, and the lag — computed by cogrouping the click and
    purchase streams on user_id and merging each pair of per-user frames
    in one Python function. The ORACLE is plain SQL (min + conditional
    join), so the cogroup path is hash-verified. Scale
    shape: one co-partitioned shuffle of both sides on the key, then
    embarrassingly parallel per-key Arrow batches; the per-key python
    work is O(events of that user). Epoch microseconds emitted as longs
    (cross-engine timestamp stringification differs)."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    def merge(key, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty:
            return pd.DataFrame(
                columns=["user_id", "first_click_us", "first_buy_us", "lag_us"]
            )
        first_click = cdf["ts"].min()
        after = bdf[bdf["ts"] > first_click]
        fc_us = first_click.value // 1000
        if after.empty:
            fb_us = None
            lag = None
        else:
            fb_us = after["ts"].min().value // 1000
            lag = fb_us - fc_us
        return pd.DataFrame(
            [(key[0], fc_us, fb_us, lag)],
            columns=["user_id", "first_click_us", "first_buy_us", "lag_us"],
        )

    return clicks.groupBy("user_id").cogroup(buys.groupBy("user_id")).applyInPandas(
        merge,
        schema="user_id long, first_click_us long, first_buy_us long, lag_us long",
    )


@q(
    "q25_quality_scores",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','to','in','is','it'))) * 1.0
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           round(least(100.0, greatest(0.0,
               least(1.0, len(string_split(text, ' ')) / 100.0) * 50.0
             + (len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','of','and','to','in','is','it'))) * 1.0
                / len(string_split(text, ' '))) * 30.0
             + least(1.0, ((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                           / len(string_split(text, ' '))) / 10.0) * 20.0
           )), 4) AS quality_score
    FROM documents
    """,
)
def q25_quality_scores(spark, sf_dir):
    """Quality scoring: length/stopword/token-shape features + clamped
    weighted score (F18/F19 semantics over documents). r7: spread scan
    (single-row-group input; see queries/core.py::t)."""
    return textops.quality_features(t(spark, sf_dir, "documents", spread=True))


@q(
    "q26_lang_id",
    """
    WITH scored AS (
        SELECT lang,
               len(list_filter(string_split(text,' '), t -> t IN ('the','a','and'))) AS s_en,
               len(list_filter(string_split(text,' '), t -> t IN ('el','la','de'))) AS s_es,
               len(list_filter(string_split(text,' '), t -> t IN ('der','die','das'))) AS s_de,
               len(list_filter(string_split(text,' '), t -> t IN ('le','la','et'))) AS s_fr
        FROM documents
    )
    SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted,
           count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def q26_lang_id(spark, sf_dir):
    """Language-ID heuristic (marker stopword counts) — confusion matrix
    against the table's lang column."""
    d = t(spark, sf_dir, "documents")
    s = textops.lang_scores(F.col("text"))
    scored = d.select(
        "lang",
        s["en"].alias("s_en"),
        s["es"].alias("s_es"),
        s["de"].alias("s_de"),
        s["fr"].alias("s_fr"),
    )
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when(
            (F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")),
            F.lit("es"),
        )
        .when(F.col("s_de") >= F.col("s_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.groupBy("lang", predicted.alias("predicted")).agg(
        F.count("*").alias("n")
    )


@q(
    "q27_fingerprint",
    f"""
    SELECT doc_id,
           list_aggregate(
               list_transform({_SHINGLE_SQL}, s -> md5('b0|' || s)), 'min'
           ) AS fingerprint
    FROM documents
    """,
)
def q27_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-hash-of-shingles (winnowing-lite)."""
    d = t(spark, sf_dir, "documents")
    sh = textops.word_shingles(F.col("text"), 3)
    return d.select(
        "doc_id", textops.minhash_band_sig(sh, 0).alias("fingerprint")
    )


@q(
    "q28_token_totals",
    r"""
    SELECT sum(len(string_split(text, ' ')))::bigint AS total_ws_tokens,
           sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))::bigint AS total_bpe_tokens,
           count(*) AS n_docs
    FROM documents
    """,
)
def q28_token_totals(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex segmentation totals."""
    d = t(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    )
    return d.agg(
        F.sum(ws).alias("total_ws_tokens"),
        F.sum(bpe).alias("total_bpe_tokens"),
        F.count("*").alias("n_docs"),
    )




@q(
    "q76_bloom_decontaminate",
    f"""
    WITH depths AS (SELECT unnest([0, 1, 2]) AS d),
    eval_ngrams AS (
        SELECT DISTINCT unnest({_SHINGLE_SQL}) AS ngram
        FROM documents WHERE doc_id % 97 = 0
    ), bits AS (
        SELECT DISTINCT d, substr(md5(d || '|' || ngram), 1, 3) AS pos
        FROM eval_ngrams, depths
    ), doc_ngrams AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLE_SQL}) AS ngram
        FROM documents WHERE doc_id % 97 <> 0
    ), probes AS (
        SELECT doc_id, ngram, d, substr(md5(d || '|' || ngram), 1, 3) AS pos
        FROM doc_ngrams, depths
    ), maybe AS (
        SELECT doc_id, ngram FROM probes JOIN bits USING (d, pos)
        GROUP BY doc_id, ngram HAVING count(*) = 3
    )
    SELECT doc_id, count(*) AS maybe_hits FROM maybe GROUP BY doc_id
    """,
)
def q76_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (new r5): q56's exact broadcast set
    replaced by a BOUNDED 3x4096-position Bloom sketch of the eval
    n-grams — the variant that still broadcasts when the benchmark suite
    itself is huge. Positions are (depth, 3-hex-md5-prefix) strings, so
    the sketch AND its deterministic false positives reproduce exactly in
    DuckDB (hash-verified; the superset-never-miss contract is pinned by
    pytest against q56's exact hits). See textops.bloom_decontaminate_hits
    for the 100 TB dataflow."""
    d = t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return textops.bloom_decontaminate_hits(
        d.filter(~is_eval), d.filter(is_eval), k=3
    )


@q(
    "q77_vocab_coverage_quality",
    """
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok FROM toks GROUP BY tok
        ORDER BY count(*) DESC, tok LIMIT 200
    ), per_doc AS (
        SELECT t.doc_id, t.lang, count(*) AS n_tok,
               sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_in
        FROM toks t LEFT JOIN vocab v USING (tok)
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang, count(*) AS n_docs,
           sum(n_tok)::bigint AS total_tokens,
           sum(n_in)::bigint AS vocab_tokens,
           round(sum(n_in) * 1.0 / sum(n_tok), 4) AS coverage,
           sum(CASE WHEN n_in * 2 < n_tok THEN 1 ELSE 0 END)::bigint
               AS n_low_coverage
    FROM per_doc GROUP BY lang
    """,
)
def q77_vocab_coverage_quality(spark, sf_dir):
    """Vocabulary-coverage quality scoring (CCNet-style LM filtering with
    integer-exact arithmetic instead of float perplexity): corpus top-200
    vocabulary (total tie-break order), per-doc in-vocab token fraction,
    per-lang coverage + count of low-coverage (<50%) docs. Determinism:
    every aggregate is an integer sum; the single final division is the
    only float op. Scale shape: the vocab is a broadcast top-k (two
    partial-agg shuffles over tokens), the corpus re-scan is map-side
    against the broadcast — no doc-to-vocab shuffle."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(200)
        .select("tok")
    )
    per_doc = (
        toks.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.coalesce(F.col("in_v"), F.lit(0))).alias("n_in"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_in").alias("vocab_tokens"),
        F.round(F.sum("n_in") / F.sum("n_tok"), 4).alias("coverage"),
        F.sum(
            F.when(F.col("n_in") * 2 < F.col("n_tok"), 1).otherwise(0)
        ).alias("n_low_coverage"),
    )


@q(
    "q78_incremental_agg_merge",
    """
    WITH stored AS (
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        FROM orders WHERE o_orderdate < DATE '1997-01-01'
        GROUP BY o_custkey
    ), delta AS (
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        GROUP BY o_custkey
    ), merged AS (
        SELECT coalesce(s.o_custkey, d.o_custkey) AS custkey,
               coalesce(s.n_orders, 0) + coalesce(d.n_orders, 0) AS n_orders,
               (coalesce(s.s, 0) + coalesce(d.s, 0))::double AS total_price,
               CASE WHEN s.o_custkey IS NOT NULL AND d.o_custkey IS NOT NULL
                    THEN 'both'
                    WHEN s.o_custkey IS NOT NULL THEN 'stored_only'
                    ELSE 'delta_only' END AS status
        FROM stored s FULL OUTER JOIN delta d ON s.o_custkey = d.o_custkey
    )
    SELECT custkey, n_orders, total_price, status
    FROM merged ORDER BY total_price DESC, custkey LIMIT 50
    """,
)
def q78_incremental_agg_merge(spark, sf_dir):
    """Incremental aggregate maintenance (new r5) — the mergeable-state
    pattern behind materialized-view upkeep at 100 TB: a stored per-key
    aggregate table (orders before the cutoff) merged with a NEW batch's
    partial aggregates via one co-partitioned full-outer join, never
    recomputing history. count and decimal-exact sum are both mergeable
    states (like q74's row upsert but for AGGREGATES — together they are
    the two halves of incremental ETL). Top-50 by merged total with a
    total tie-break for the oracle."""
    o = t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")

    def agg_side(pred):
        return (
            o.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            )
        )

    stored = agg_side(F.col("o_orderdate") < cutoff)
    delta = agg_side(F.col("o_orderdate") >= cutoff)
    merged = stored.alias("s").join(
        delta.alias("d"),
        F.col("s.o_custkey") == F.col("d.o_custkey"),
        "full_outer",
    ).select(
        F.coalesce(F.col("s.o_custkey"), F.col("d.o_custkey")).alias("custkey"),
        (
            F.coalesce(F.col("s.n_orders"), F.lit(0))
            + F.coalesce(F.col("d.n_orders"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("s.s"), F.lit(0).cast("decimal(18,2)"))
            + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(18,2)"))
        ).cast("double").alias("total_price"),
        F.when(
            F.col("s.o_custkey").isNotNull() & F.col("d.o_custkey").isNotNull(),
            "both",
        )
        .when(F.col("s.o_custkey").isNotNull(), "stored_only")
        .otherwise("delta_only")
        .alias("status"),
    )
    return merged.orderBy(F.col("total_price").desc(), "custkey").limit(50)


@q(
    "q81_copurchase_degree",
    """
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT p, count(*) AS degree FROM (
            SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs
        ) GROUP BY p
    )
    SELECT degree, count(*) AS n_parts
    FROM deg GROUP BY degree
    """,
)
def q81_copurchase_degree(spark, sf_dir):
    """Graph-edge construction from a fact table + degree distribution
    (new r5; the relational half of the KG tier): parts co-occurring in
    one order become edges via a co-partitioned self-equi-join on
    l_orderkey — LARGE-LARGE but linear, because the per-order line count
    is bounded (~4-7), so the per-key pair fan-out is O(k^2) with tiny k,
    never a cross-table explosion. distinct collapses repeat edges, then
    a two-level agg gives each part's co-purchase degree and the degree
    histogram. Exactly the mention->edge shape of the KG pipeline
    (pipeline.run_graph) with an oracle-checkable input. Skewed hot parts
    are just hot agg keys — partial agg + AQE handle them."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
    )
    # r7: both endpoints via one map-side explode instead of a two-branch
    # union — the union duplicated the whole pairs plan (self-join +
    # distinct) into both branches (guide §2.4; same fix as
    # graph.symmetrize). Same rows, one scan.
    deg = (
        pairs.select(
            F.explode(F.array(F.col("p1"), F.col("p2"))).alias("p")
        )
        .groupBy("p")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_parts"))


@q(
    "q82_token_pmi_lift",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), vocab AS (
        SELECT tok FROM toks GROUP BY tok
        ORDER BY count(*) DESC, tok LIMIT 50
    ), dt AS (
        SELECT DISTINCT doc_id, tok FROM toks
        WHERE tok IN (SELECT tok FROM vocab)
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), cnt AS (
        SELECT tok, count(*) AS n_t FROM dt GROUP BY tok
    ), pairs AS (
        SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT t1, t2, n_ab,
           CAST(round(n_ab * 1.0 * n_docs * 10000 / (c1.n_t * c2.n_t))
                AS BIGINT) AS lift_x10k
    FROM pairs JOIN cnt c1 ON t1 = c1.tok JOIN cnt c2 ON t2 = c2.tok, n
    ORDER BY lift_x10k DESC, t1, t2 LIMIT 30
    """,
)
def q82_token_pmi_lift(spark, sf_dir):
    """Token co-occurrence mining (new r5): PMI-style lift over the top-50
    vocabulary — collocation discovery / phrase-mining's counting core.
    Determinism: lift is pure integer arithmetic until ONE final division
    (n_ab * N * 10^4 / (n_a * n_b)), so no float accumulation anywhere
    (a log-PMI would hit cross-engine libm ulp differences; lift is
    monotone in PMI so the ranking is the same). Scale shape: vocab is a
    broadcast top-k; per-doc distinct vocab tokens <= 50 bounds the
    self-join fan-out at O(50^2) per doc; the pair count is one
    partial-agg shuffle; totals broadcast back. Top-30 with total
    tie-break."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(50)
        .select("tok")
    )
    dt = toks.join(F.broadcast(vocab), "tok").distinct()
    n_docs = d.count()  # bounded driver-side scalar (like q57's N)
    cnt = dt.groupBy("tok").agg(F.count("*").alias("n_t"))
    a, b = dt.alias("a"), dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("t1"), F.col("b.tok").alias("t2"))
        .agg(F.count("*").alias("n_ab"))
    )
    scored = (
        pairs.join(F.broadcast(cnt.withColumnRenamed("tok", "t1")
                               .withColumnRenamed("n_t", "n_t1")), "t1")
        .join(F.broadcast(cnt.withColumnRenamed("tok", "t2")
                          .withColumnRenamed("n_t", "n_t2")), "t2")
        .select(
            "t1", "t2", "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.lit(n_docs) * 10000
                / (F.col("n_t1") * F.col("n_t2"))
            ).cast("long").alias("lift_x10k"),
        )
    )
    return scored.orderBy(F.col("lift_x10k").desc(), "t1", "t2").limit(30)
