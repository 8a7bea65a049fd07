"""Scaled-integer PageRank over the KG's canonical-entity co-mention
graph: global (pipeline.entity_salience) and personalized
(pipeline.related_entities). Any undirected pair list works; canon.py's
connected components shares symmetrize.

Determinism: PageRank runs entirely in scaled-integer arithmetic
(rank x 10^12, damping num/den, floor `div`), so results are bit-identical
across engines, parallelism levels, and runs — the same property the rest
of the engine holds everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # rank 1.0 == 10^12
DAMPING = (17, 20)  # 0.85 as num/den


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected distinct pairs (p1, p2) -> directed edge list (src, dst)
    with both orientations.

    A map-side explode of both orientations, not a two-branch union: the
    union would put the whole pairs plan (in the pipeline, the co-mention
    self-join + distinct) into both branches, so an unpersisted pairs
    input would be built twice; the explode scans it once and doubles
    rows in place."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst")),
                F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _pagerank_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized edges hash-partitioned on src (the pregel join key) into
    spark.sql.shuffle.partitions partitions, for the caller to persist.
    personalized_pagerank_scaled persists exactly this plan and
    pagerank_scaled derives its node set from it, so one cache serves the
    loop, the degrees and the node set, and ``pairs`` is evaluated once.

    The partition count is explicit on purpose. Every loop join is planned
    onto this layout, which only works while the cache keeps a known hash
    partitioning. Spark keeps a persisted plan's partitioning by default
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is off), so
    a column-only repartition("src") yields the same layout there; where
    that setting is on, AQE coalesces a column-only repartition, the
    layout is lost and every iteration re-shuffles the edges (a 394-edge
    query: 30 jobs instead of 21). A count AQE cannot change keeps the
    plan shape under either setting."""
    edges = symmetrize(pairs)
    n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(n, "src")


def pagerank_scaled(pairs: DataFrame, iters: int = 4) -> DataFrame:
    """PageRank over an undirected pair list, in exact scaled integers.

    ``pairs``: DataFrame[p1, p2] of distinct undirected edges (isolated
    nodes — absent from every edge — are out of scope, as in any
    edge-list formulation). Returns DataFrame[node, d, r, is_src] with r
    the rank scaled by PR_SCALE (is_src is 1 on every row); no rows for an
    empty pair list. It is personalized_pagerank_scaled with every node a
    source.
    """
    nodes = _pagerank_edges(pairs).select(F.col("src").alias("node"))
    return personalized_pagerank_scaled(pairs, nodes, iters)


def personalized_pagerank_scaled(
    pairs: DataFrame, sources: DataFrame, iters: int = 4
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SOURCE set
    instead of uniformly — the standard "related entities" primitive over
    a KG (rank everything by relevance to a query/seed entity set).

    ``sources``: DataFrame[node]; seeds absent from the edge list are
    ignored (an isolated seed has no outgoing mass). Returns
    DataFrame[node, d, r, is_src]: r scaled by PR_SCALE, is_src 1 for a
    source node and 0 otherwise, so a caller can rank and flag seeds from
    this one relation without joining the sources again. No rows when no
    source is in the edge list. The result is eagerly localCheckpoint'ed.

    Recurrence (all BIGINT floor arithmetic — no float accumulation, so
    the result is independent of partitioning and engine):
        r0(v)  = T // |S|           if v in S else 0
        r'(v)  = [v in S] * (den-num)*T // (den*|S|)
                 + num * sum_{u->v}(r(u) div d(u)) div den

    Scale shape: the edge list (_pagerank_edges, hash-partitioned on src)
    and the seed-marked degrees derived from it are persisted for the loop
    and released on every exit, after the result is checkpointed or when a
    job raises; both keep the edge cache's partitioning. The sources, the
    rank relation and the per-iteration sums join onto that layout as
    shuffled-hash builds (the shuffle_hash hints; each build side holds at
    most one row per node), so AQE plans no broadcast and no second
    exchange: an iteration's only exchange is the partial-agg shuffle on
    dst. At a few hundred edges a query costs its number of stages (each
    broadcast or shuffle stage is its own AQE job), not its data, and this
    shape minimizes them. The driver never touches rows.
    """
    num, den = DAMPING
    # analysed before the first persist: a bad sources schema leaks no cache
    seeds = sources.select("node").distinct().withColumn("is_src", F.lit(1))
    edges = _pagerank_edges(pairs).persist()
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("src", "node")
    )
    marked = deg.join(seeds.hint("shuffle_hash"), "node", "left").select(
        "node", "d", F.coalesce(F.col("is_src"), F.lit(0)).alias("is_src")
    ).persist()
    try:
        n_src = marked.filter(F.col("is_src") == 1).count()
        if n_src == 0:
            return marked.select(
                "node", "d", F.lit(0).cast("long").alias("r"), "is_src"
            ).limit(0).localCheckpoint(eager=True)
        base = ((den - num) * PR_SCALE) // (den * n_src)
        r = marked.select(
            "node",
            "d",
            "is_src",
            (F.col("is_src") * F.lit(PR_SCALE // n_src))
            .cast("long")
            .alias("r"),
        )
        for _ in range(iters):
            r = r.hint("shuffle_hash")
            contrib = edges.join(r, edges["src"] == r["node"]).select(
                F.col("dst").alias("cnode"), F.expr("r div d").alias("c")
            )
            s = contrib.groupBy("cnode").agg(F.sum("c").alias("s")).hint(
                "shuffle_hash"
            )
            r = marked.join(s, marked["node"] == s["cnode"], "left").select(
                "node",
                "d",
                "is_src",
                (
                    F.col("is_src") * F.lit(base)
                    + F.expr(f"({num} * coalesce(s, 0)) div {den}")
                ).cast("long").alias("r"),
            )
        return r.select("node", "d", "r", "is_src").localCheckpoint(eager=True)
    finally:
        marked.unpersist()
        edges.unpersist()
