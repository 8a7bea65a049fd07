"""Embeddings: cosine top-k, IVF-Flat ANN, k-means (brief ops):
q29-q31, q43, q44.

Split from the monolithic queries.py in round 5 (VERDICT r4 #8);
every (fn, sql) pair unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import textops, vectorops
from kgforge.queries.core import REGISTRY, Q, q, t, _dec_sum, _exact_stddev


# ---------------------------------------------------------------------------
# Embeddings: similarity search (brief ops)
# ---------------------------------------------------------------------------

_COS_SQL = """
    list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> a.embedding[i]::double * q.embedding[i]::double))
    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> a.embedding[i]::double * a.embedding[i]::double)))
     * sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
             i -> q.embedding[i]::double * q.embedding[i]::double))))
"""


@q(
    "q29_cosine_topk",
    f"""
    SELECT a.vec_id, round({_COS_SQL}, 6) AS cos_sim
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cos_sim DESC, a.vec_id LIMIT 10
    """,
)
def q29_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs a query vector (ANN baseline)."""
    e = t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return vectorops.topk_cosine(e, list(qvec), 10)


def _cos_sql(x: str, y: str) -> str:
    """Parameterized DuckDB cosine between two list<float> expressions."""
    return f"""(
    list_sum(list_transform(range(1, len({x}) + 1),
             i -> {x}[i]::double * {y}[i]::double))
    / (sqrt(list_sum(list_transform(range(1, len({x}) + 1),
             i -> {x}[i]::double * {x}[i]::double)))
     * sqrt(list_sum(list_transform(range(1, len({y}) + 1),
             i -> {y}[i]::double * {y}[i]::double)))))"""


@q(
    "q43_ivf_topk",
    f"""
    WITH cent AS (
        SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
        ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT 16
    ), qtab AS (
        SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.c_id,
               round({_cos_sql('e.embedding', 'c.c_vec')}, 6) AS cs
        FROM embeddings e CROSS JOIN cent c
    ), assign AS (
        SELECT vec_id, embedding, c_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
            FROM scored
        ) WHERE rn = 1
    ), probe AS (
        SELECT c_id FROM cent, qtab
        ORDER BY round({_cos_sql('c_vec', 'q_vec')}, 6) DESC, c_id LIMIT 4
    )
    SELECT a.vec_id, round({_cos_sql('a.embedding', 'q_vec')}, 6) AS cos_sim
    FROM assign a JOIN probe USING (c_id) CROSS JOIN qtab
    ORDER BY cos_sim DESC, a.vec_id LIMIT 10
    """,
)
def q43_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN search (the brief's other scale path next to LSH):
    deterministic centroid sample -> map-only nearest-centroid assignment
    (broadcast of k centroids, the one correct explicit broadcast) -> probe
    the nprobe nearest cells -> exact cosine top-k within ~nprobe/k of the
    corpus. vectorops.ivf_* documents the 100 TB layout (assignment
    bucketed by cell -> partition-pruned probes)."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return vectorops.ivf_topk(e, list(qvec), k=10, n_centroids=16, nprobe=4)


def _kmeans_sql(k: int = 8, iters: int = 3) -> str:
    """DuckDB twin of vectorops.kmeans_fixed: the same fixed rounds
    unrolled as CTEs (assignment = argmax-cosine row_number; centroid
    update = exact-decimal positional means, the q31 technique)."""
    ctes = [
        f"""cent0 AS (
        SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings
        ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT {k})"""
    ]
    for r in range(iters):
        ctes.append(f"""assign{r} AS (
        SELECT vec_id, c_id FROM (
            SELECT e.vec_id, c.c_id, row_number() OVER (
                PARTITION BY e.vec_id
                ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6) DESC,
                         c.c_id) AS rn
            FROM embeddings e CROSS JOIN cent{r} c
        ) WHERE rn = 1)""")
        ctes.append(f"""cent{r + 1} AS (
        SELECT c_id, list(c ORDER BY pos) AS c_vec FROM (
            SELECT a.c_id, u.pos,
                   sum(cast(round(e.embedding[u.pos], 6) as decimal(18,6)))::double
                     / count(*) AS c
            FROM assign{r} a
            JOIN embeddings e USING (vec_id),
                 unnest(range(1, len(e.embedding) + 1)) AS u(pos)
            GROUP BY a.c_id, u.pos
        ) GROUP BY c_id)""")
    ctes.append(f"""final_assign AS (
        SELECT vec_id, c_id FROM (
            SELECT e.vec_id, c.c_id, row_number() OVER (
                PARTITION BY e.vec_id
                ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6) DESC,
                         c.c_id) AS rn
            FROM embeddings e CROSS JOIN cent{iters} c
        ) WHERE rn = 1)""")
    return "WITH " + ",\n".join(ctes) + """
    SELECT c_id, count(*) AS n FROM final_assign GROUP BY c_id"""


@q("q44_kmeans_clusters", _kmeans_sql())
def q44_kmeans_clusters(spark, sf_dir):
    """Distributed k-means (A14 completion — the embedding-clustering
    operator): 3 fixed Lloyd rounds, k=8, deterministic md5-ordered init,
    broadcast-k assignment + exact-decimal positional-mean update; output
    = final cluster sizes, oracle-checked against the same rounds unrolled
    in DuckDB. Production variant loops to epsilon (vectorops.kmeans_fixed
    docstring)."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return vectorops.kmeans_fixed(e, k=8, iters=3).groupBy("c_id").agg(
        F.count("*").alias("n")
    )


_BANDED_BUCKETS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {b} AS band, "
    f"{vectorops.band_bucket_sql(b)} AS bucket FROM embeddings"
    for b in range(vectorops.EMB_BANDS)
)


@q(
    "q30_lsh_buckets",
    f"""
    WITH b AS ({_BANDED_BUCKETS_SQL})
    SELECT band, bucket, count(*) AS n FROM b GROUP BY band, bucket
    """,
)
def q30_lsh_buckets(spark, sf_dir):
    """Banded random-hyperplane LSH bucketing (the ANN blocking stage):
    EMB_BANDS bands x EMB_ROWS Rademacher sign-bits per band, exactly
    reproduced in the DuckDB oracle via decimal dot products."""
    e = t(spark, sf_dir, "embeddings")
    return vectorops.with_band_buckets(e.select("vec_id", "embedding")).groupBy(
        "band", "bucket"
    ).agg(F.count("*").alias("n"))


@q(
    "q31_centroid_cosine",
    """
    WITH flat AS (
        SELECT label, u.pos, embedding[u.pos] AS val
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) AS u(pos)
    ), centroid AS (
        SELECT label, pos,
               (sum(cast(round(val, 6) as decimal(18,6)))::double / count(*)) AS c
        FROM flat GROUP BY label, pos
    ), cvec AS (
        SELECT label, list(c ORDER BY pos) AS cv FROM centroid GROUP BY label
    ), sims AS (
        SELECT e.label,
               round(
                 list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> e.embedding[i]::double * cv[i]))
                 / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                          i -> e.embedding[i]::double * e.embedding[i]::double)))
                  * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
                          i -> cv[i] * cv[i])))), 6) AS cos_c
        FROM embeddings e JOIN cvec USING (label)
    )
    SELECT label,
           (sum(cast(cos_c as decimal(18,6)))::double / count(*)) AS avg_cos,
           count(*) AS n
    FROM sims GROUP BY label
    """,
)
def q31_centroid_cosine(spark, sf_dir):
    """Per-label centroid + average member cosine (cluster-coherence agg,
    A14 analogue of interpret.py:682-703). r7: spread scan — the
    posexplode + decimal partial agg are CPU-bound and the input file is
    single-row-group (see queries/core.py::t)."""
    e = t(spark, sf_dir, "embeddings", spread=True)
    flat = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos0", "val")
    ).withColumn("pos", F.col("pos0") + 1)
    centroid = flat.groupBy("label", "pos").agg(
        (
            F.sum(F.round(F.col("val").cast("double"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("c")
    )
    cvec = centroid.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    j = e.join(F.broadcast(cvec), "label")
    cos_c = F.round(
        vectorops.dot(F.col("embedding"), F.col("cv"))
        / (vectorops.norm(F.col("embedding")) * vectorops.norm(F.col("cv"))),
        6,
    )
    sims = j.select("label", cos_c.alias("cos_c"))
    return sims.groupBy("label").agg(
        (F.sum(F.col("cos_c").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "avg_cos"
        ),
        F.count("*").alias("n"),
    )
