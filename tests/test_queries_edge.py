"""Edge-case regressions from the round-4 code review: degenerate inputs
to the new operators must degrade safely and identically in both engines."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


def test_grid_range_join_drops_empty_and_inverted_intervals(spark):
    """hi <= lo can never match; an inverted interval must yield ZERO grid
    cells, not a descending million-element sequence (Spark's
    sequence(start, stop) silently steps -1 when start > stop)."""
    from kgforge.queries import grid_range_join

    points = spark.createDataFrame(
        [(1, 500.0), (2, 1500.0)], "id long, v double"
    )
    intervals = spark.createDataFrame(
        [
            (0, 0.0, 1000.0),        # normal: matches v=500
            (1, 2000.0, 2000.0),     # empty
            (2, 1_000_000_000.0, 0.0),  # inverted — the explosion case
        ],
        "band_id int, lo double, hi double",
    )
    got = grid_range_join(points, intervals, "v", cell=1000.0).collect()
    assert [(r.id, r.band_id) for r in got] == [(1, 0)]


def test_q70_hash_safe_for_huge_doc_ids(spark):
    """The Lehmer keep-hash must stay in int64 and agree with DuckDB for
    doc_ids far past 2^32 (the old Knuth multiply overflowed at ~3.5e9:
    Spark wrapped negative — keeping everything — while DuckDB errored)."""
    big = [0, 2**31 - 2, 2**32 + 7, 10**12 + 123, 10**15]
    expr = (((F.col("doc_id") % F.lit(2147483647)) * F.lit(48271))
            % F.lit(2147483647)) % F.lit(1000000)
    sdf = spark.createDataFrame([(i,) for i in big], "doc_id long")
    spark_h = {r.doc_id: r.h for r in sdf.select("doc_id", expr.alias("h")).collect()}
    duck = duckdb.sql(
        "SELECT doc_id, (((doc_id % 2147483647) * 48271) % 2147483647) "
        "% 1000000 AS h FROM (SELECT unnest($ids) AS doc_id)",
        params={"ids": big},
    ).fetchall()
    assert spark_h == {d: h for d, h in duck}
    assert all(0 <= h < 1000000 for h in spark_h.values())


def test_q71_constant_vector_quantizes_to_zero(spark, tmp_path):
    """A constant embedding (max == min, scale 0) must quantize every
    element to 0 — not Spark-NaN-folded-to-0 vs DuckDB-NULL."""
    from kgforge.queries import REGISTRY

    rows = [
        (0, [0.5, 0.5, 0.5, 0.5], 1),     # constant -> qsum 0
        (1, [0.0, 1.0, 2.0, 3.0], 1),     # ramp -> 0+85+170+255 = 510
    ]
    tmp = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    out = {r.label: r for r in REGISTRY["q71_embedding_quantize_int8"].fn(spark, tmp).collect()}
    assert out[1].n_vecs == 2 and out[1].total_qsum == 510

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp}/embeddings.parquet/*.parquet'"
    )
    oracle = con.execute(REGISTRY["q71_embedding_quantize_int8"].sql).fetchall()
    assert [(r[0], r[1], r[2]) for r in oracle] == [(1, 2, 510)]


def test_bloom_decontaminate_empty_eval_set(spark):
    """An empty eval side must produce an empty (not failing) result —
    the broadcast bit set is empty, every probe misses."""
    from kgforge import textops

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    empty = corpus.filter(F.lit(False))
    assert textops.bloom_decontaminate_hits(corpus, empty, k=3).count() == 0
