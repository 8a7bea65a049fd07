"""Decontamination operator (eval-set n-gram overlap, broadcast probe)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.textops import decontaminate_hits


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_hits_counts_distinct_shared_ngrams(spark):
    eval_df = _docs(spark, [(100, "alpha beta gamma delta")])
    # eval 3-grams: {alpha beta gamma, beta gamma delta}
    corpus = _docs(
        spark,
        [
            (1, "x alpha beta gamma y"),          # 1 shared 3-gram
            (2, "alpha beta gamma delta tail"),   # both eval 3-grams
            (3, "alpha beta zeta"),               # bigram overlap only -> clean
            (4, "alpha beta gamma alpha beta gamma"),  # dup windows count once
        ],
    )
    got = {
        r.doc_id: r.hits
        for r in decontaminate_hits(corpus, eval_df, k=3).collect()
    }
    assert got == {1: 1, 2: 2, 4: 1}


def test_decontaminate_min_hits_threshold(spark):
    eval_df = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [(1, "x alpha beta gamma y"), (2, "alpha beta gamma delta tail")],
    )
    got = decontaminate_hits(corpus, eval_df, k=3, min_hits=2)
    assert [(r.doc_id, r.hits) for r in got.collect()] == [(2, 2)]


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from kgforge.queries import REGISTRY
    import os

    # 3 docs over a tiny vocab; write as parquet so the query's t() loader
    # works against a directory shaped like a sf dir
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "apple banana apple"),
                (2, "banana cherry"),
                (3, "cherry cherry cherry"),
            ],
            "doc_id long, text string",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            (r.doc_id, r.term): (r.tfidf, r.rk)
            for r in REGISTRY["q57_tfidf_top_terms"].fn(spark, d).collect()
        }

    def tfidf(tf, df, n=3):
        return round(tf * (math.log((n + 1) / (df + 1)) + 1), 4)

    # doc1: apple tf=2 df=1, banana tf=1 df=2
    assert got[(1, "apple")] == (tfidf(2, 1), 1)
    assert got[(1, "banana")] == (tfidf(1, 2), 2)
    # doc3: cherry tf=3 df=2
    assert got[(3, "cherry")] == (tfidf(3, 2), 1)
    assert len(got) == 5


def test_decontaminate_plan_broadcasts_eval_side(spark):
    eval_df = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(spark, [(1, "x alpha beta gamma y")])
    plan = (
        decontaminate_hits(corpus, eval_df, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus side must stay map-only up to the probe: broadcast join,
    # never a SortMergeJoin shuffle of the (100 TB) exploded corpus
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_decontaminate_is_superset_of_exact(spark):
    """The Bloom sketch contract (q76 vs q56): per-doc maybe_hits must be a
    SUPERSET of the exact decontamination hits — a Bloom filter can false-
    positive, never false-negative. Checked on real testdata."""
    from kgforge import textops
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    is_eval = F.col("doc_id") % 97 == 0
    corpus, ev = d.filter(~is_eval), d.filter(is_eval)
    exact = {
        r.doc_id: r.hits
        for r in textops.decontaminate_hits(corpus, ev, k=3).collect()
    }
    bloom = {
        r.doc_id: r.maybe_hits
        for r in textops.bloom_decontaminate_hits(corpus, ev, k=3).collect()
    }
    assert exact, "fixture must produce some contaminated docs"
    for doc_id, hits in exact.items():
        assert doc_id in bloom, f"bloom missed contaminated doc {doc_id}"
        assert bloom[doc_id] >= hits, (doc_id, bloom[doc_id], hits)
