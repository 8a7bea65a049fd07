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


def test_sketch_percentiles_within_rank_tolerance(spark):
    """q58's sketch values must sit within rank tolerance of q48's exact
    percentiles — the correctness contract for an algorithm-dependent
    sketch (cross-engine value equality is the wrong check)."""
    from kgforge.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact = {
        r.lang: r for r in REGISTRY["q48_length_percentiles"].fn(spark, sf).collect()
    }
    sketch = {
        r.lang: r for r in REGISTRY["q58_sketch_percentiles"].fn(spark, sf).collect()
    }
    assert set(sketch) == set(exact)
    for lang, s in sketch.items():
        e = exact[lang]
        # accuracy=10000 -> rank error 1e-4; at sf0.001 group sizes that is
        # sub-1-rank, but percentile_approx returns an ACTUAL element while
        # quantile_cont interpolates — allow one interpolation step (the
        # gap between adjacent order statistics around the target rank).
        for p in ("p50", "p90", "p99"):
            assert abs(s[p] - e[p]) <= max(0.06 * e[p], 2.0), (lang, p, s[p], e[p])


def test_hll_distinct_within_error_bounds(spark):
    from kgforge.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["q59_hll_distinct"].fn(spark, sf).collect()
    assert rows
    for r in rows:
        # lgK=12 standard error ~1.6%; 5 sigma bound, min slack 2 for
        # small exact counts
        tol = max(0.08 * r.exact_users, 2)
        assert abs(r.hll_users - r.exact_users) <= tol, r
        assert abs(r.approx_users - r.exact_users) <= max(0.1 * r.exact_users, 2), r


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


# --- deterministic global training-order shuffle (VERDICT r3 #7) ---


def test_global_shuffle_seed_stable_and_partition_invariant(spark):
    """The permutation is a pure function of (seed, doc_id): identical
    across runs, partition counts, and input orders; different seeds give
    different permutations."""
    from kgforge.queries import global_shuffle

    rows = [(i, f"doc {i}") for i in range(300)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows[::-1], "doc_id long, text string").repartition(7)

    perm_a = [r.doc_id for r in global_shuffle(a, seed=42).collect()]
    perm_a2 = [r.doc_id for r in global_shuffle(a, seed=42).collect()]
    perm_b = [r.doc_id for r in global_shuffle(b, seed=42).collect()]
    assert perm_a == perm_a2 == perm_b          # seed-stable + layout-free
    assert sorted(perm_a) == list(range(300))   # a true permutation
    assert perm_a != list(range(300))           # and actually shuffled

    perm_seed43 = [r.doc_id for r in global_shuffle(a, seed=43).collect()]
    assert perm_seed43 != perm_a
    assert sorted(perm_seed43) == list(range(300))


def test_countmin_estimate_is_one_sided_upper_bound(spark):
    """CM guarantee: est_n >= exact_n for EVERY queried token (collisions
    only ever overcount), with equality when a token's bucket is clean."""
    from kgforge.queries import REGISTRY

    rows = {
        r.tok: r
        for r in REGISTRY["q75_countmin_heavy_hitters"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert len(rows) == 10
    assert all(r.overcount >= 0 for r in rows.values())
    assert all(r.est_n >= r.exact_n for r in rows.values())


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


def test_hopping_window_covers_each_event_twice(spark):
    """q79: size/slide = 2, so summed window counts = exactly 2x the event
    count, and every window start is slide-aligned."""
    from kgforge.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["q79_hopping_window"].fn(spark, sf).collect()
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert sum(r.n_events for r in rows) == 2 * n_events
    assert all(r.win_start_s % 300 == 0 for r in rows)


def test_salted_agg_matches_plain_and_spreads_key(spark):
    """q80: the salted two-phase aggregate must equal the plain aggregate
    bit-for-bit, and its FIRST shuffle must group on (key, salt) — the
    physical property that spreads a hot key over 16 reducers."""
    from kgforge.queries import REGISTRY, t
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    df = REGISTRY["q80_salted_hot_key_agg"].fn(spark, sf)
    got = {r.l_returnflag: (r.n_rows, r.sum_qty, r.sum_price)
           for r in df.collect()}
    plain = {
        r.l_returnflag: (
            r.n_rows,
            float(r.sq),
            float(r.sp),
        )
        for r in t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sq"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sp"),
        )
        .collect()
    }
    assert got == plain
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_lines = [ln for ln in plan.splitlines()
                 if "HashAggregate" in ln and "salt" in ln]
    assert agg_lines, plan[:1500]
