"""Distributed graph analytics over entity/mention edge lists: scaled-
integer PageRank and degree-oriented triangle counting.

These are the engine-capability forms of q88/q89 (kgforge/queries/
graph_temporal.py): any undirected edge list — the KG's canonical-entity
co-mention graph (pipeline.run_graph emits exactly this shape), the
co-purchase graph, LSH similarity edges — can be ranked for salience or
measured for cohesion. Complements canon.py's connected components (the
third member of the iterative-graph family).

Determinism: PageRank runs entirely in scaled-integer arithmetic
(rank x 10^12, damping num/den, floor `div`), so results are bit-identical
across engines, parallelism levels, and runs — the same property the rest
of the engine holds everywhere (see queries/__init__ docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # rank 1.0 == 10^12


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected distinct pairs (p1, p2) -> directed edge list (src, dst)
    with both orientations.

    r7: map-side explode of both orientations instead of a two-branch
    union — the union duplicated the ENTIRE pairs plan (for q88/q99 a
    lineitem self-join + distinct) into both branches, so an unpersisted
    pairs input was built twice when the edge list materialized; the
    explode scans it once and doubles rows in place (guide §2.4)."""
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


def _partitioned_edges(pairs: DataFrame) -> DataFrame:
    """The PageRank edge layout, also sorted on src within each partition,
    for bfs_hops to persist: its per-round frontier joins reuse the src
    partitioning instead of re-shuffling the edge list each round, and a
    cached relation keeps its ordering, so a sort-merge frontier join
    needs no edge-side sort."""
    return _pagerank_edges(pairs).sortWithinPartitions("src")


def pagerank_scaled(
    pairs: DataFrame,
    iters: int = 4,
    damping: tuple[int, int] = (17, 20),
) -> DataFrame:
    """PageRank over an undirected pair list, in exact scaled integers.

    ``pairs``: DataFrame[p1, p2] of distinct undirected edges (isolated
    nodes — absent from every edge — are out of scope, as in any
    edge-list formulation). Returns DataFrame[node, d, r, is_src] with r
    the rank scaled by PR_SCALE (is_src is 1 on every row); no rows for an
    empty pair list. It is personalized_pagerank_scaled with every node a
    source.
    """
    nodes = _pagerank_edges(pairs).select(F.col("src").alias("node"))
    return personalized_pagerank_scaled(pairs, nodes, iters, damping)


def personalized_pagerank_scaled(
    pairs: DataFrame,
    sources: DataFrame,
    iters: int = 4,
    damping: tuple[int, int] = (17, 20),
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
    and released once the result is checkpointed; both keep the edge
    cache's partitioning. The sources, the rank relation and the
    per-iteration sums join onto that layout as shuffled-hash builds (the
    shuffle_hash hints; each build side holds at most one row per node),
    so AQE plans no broadcast and no second exchange: an iteration's only
    exchange is the partial-agg shuffle on dst. At a few hundred edges a
    query costs its number of stages (each broadcast or shuffle stage is
    its own AQE job), not its data, and this shape minimizes them. The
    driver never touches rows.
    """
    num, den = damping
    edges = _pagerank_edges(pairs).persist()
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("src", "node")
    )
    marked = deg.join(
        sources.select("node")
        .distinct()
        .withColumn("is_src", F.lit(1))
        .hint("shuffle_hash"),
        "node",
        "left",
    ).select(
        "node", "d", F.coalesce(F.col("is_src"), F.lit(0)).alias("is_src")
    ).persist()
    n_src = marked.filter(F.col("is_src") == 1).count()
    if n_src == 0:
        empty = marked.select(
            "node", "d", F.lit(0).cast("long").alias("r"), "is_src"
        ).limit(0).localCheckpoint(eager=True)
        marked.unpersist()
        edges.unpersist()
        return empty
    base = ((den - num) * PR_SCALE) // (den * n_src)
    r = marked.select(
        "node",
        "d",
        "is_src",
        (F.col("is_src") * F.lit(PR_SCALE // n_src)).cast("long").alias("r"),
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
    # materialize, then free the caches
    out = r.select("node", "d", "r", "is_src").localCheckpoint(eager=True)
    marked.unpersist()
    edges.unpersist()
    return out


def bfs_hops(
    pairs: DataFrame, sources: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Multi-source BFS hop distances over an undirected pair list.

    ``pairs``: DataFrame[p1, p2] distinct undirected edges. ``sources``:
    DataFrame[node] seed set. Returns DataFrame[node, dist] with the exact
    minimum hop count (<= max_hops) from the nearest source; unreachable
    nodes are absent. Integer distances — bit-identical across engines and
    parallelism.

    Scale shape: classic frontier BFS as pregel-on-DataFrames — per hop one
    co-partitioned equi-join (edges x frontier), one distinct, one
    anti-join against the settled set; the settled set is persisted and
    grows monotonically. The driver loop runs at most ``max_hops`` rounds
    and touches only an isEmpty() per round (early exit when the frontier
    dries up), never row data. Web-scale graphs have small diameter, so
    max_hops stays single-digit and each round's shuffles carry only the
    frontier, not the graph.
    """
    edges = _partitioned_edges(pairs).persist()
    dist = sources.select("node").distinct().withColumn(
        "dist", F.lit(0)
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    # Each hop's frontier is localCheckpoint'ed (eager): this both
    # materializes it (the isEmpty probe reads the stored blocks) and CUTS
    # LINEAGE — without the cut, hop h's logical plan contains hop h-1's
    # plan twice (frontier side + settled-set anti-join side), doubling
    # per hop until plan construction itself OOMs around depth 8 on a
    # real graph (persist caches rows but leaves the plan tree intact).
    # At cluster scale swap in df.checkpoint() for executor-loss-tolerant
    # truncation, as canon.connected_components does.
    for h in range(1, max_hops + 1):
        cand = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = cand.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(h).alias("dist")
        ).localCheckpoint(eager=True)
        if new.isEmpty():
            break
        dist = dist.unionByName(new)
        frontier = new.select("node")
    # dist is a union of eagerly checkpointed frontiers — it no longer
    # references the edge cache, so release it before returning (r7 cache
    # hygiene; see personalized_pagerank_scaled)
    edges.unpersist()
    return dist


def k_core(pairs: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """The k-core of an undirected pair list: the maximal subgraph in
    which every node has degree >= k. Returns DataFrame[node, d] with d
    the node's degree WITHIN the core.

    Iterative peel: drop every node of degree < k, restrict the edge set
    to survivors, repeat to fixpoint. The result is the standard unique
    k-core regardless of peel order, so the output is deterministic.

    Scale shape: each round is one partial-agg degree count + two
    shuffled semi-joins restricting the edge list — all co-partitioned on
    node id; the driver sees only the per-round survivor count (the
    fixpoint test). Rounds are bounded by max_rounds (real graphs peel in
    a handful of rounds; the pathological chain case is capped, matching
    canon.connected_components' bounded-rounds contract).

    Each round's restricted edge list is localCheckpoint'ed: persist
    caches rows but leaves the logical plan intact, and a round's plan
    references the previous round's THREE times (edge side + two
    semi-join sides), so a 10-round peel grows the plan tree ~3^10-fold —
    it survived a quiet JVM but OOMed plan construction inside a session
    that had run 90 other queries (r6 full-sweep finding; same class as
    bfs_hops' per-hop cut). Dropping the previous round's Python
    reference lets the ContextCleaner free its checkpoint blocks, so the
    2-generation storage bound still holds without explicit unpersist.
    """
    edges = symmetrize(pairs).localCheckpoint(eager=True)
    n_prev = -1
    for _ in range(max_rounds):
        deg = edges.groupBy("src").agg(F.count("*").alias("d"))
        # keep's plan is shallow (one agg off checkpointed edges), so a
        # plain persist is safe here — it is read 3x per round (count +
        # both semi-join sides) and released once the next edge
        # generation has materialized
        keep = deg.filter(F.col("d") >= k).select(
            F.col("src").alias("node")
        ).persist()
        n_keep = keep.count()  # bounded driver-side scalar (fixpoint test)
        if n_keep == 0:
            # ADVICE r6: capture the empty result, then release the cache
            # this path used to leak (one cached DF per empty-core call)
            empty = keep.select(
                "node", F.lit(0).cast("long").alias("d")
            ).limit(0).localCheckpoint(eager=True)
            keep.unpersist()
            return empty
        if n_keep == n_prev:
            keep.unpersist()
            break
        n_prev = n_keep
        edges = (
            edges.join(keep, edges["src"] == keep["node"], "left_semi")
            .join(
                keep.withColumnRenamed("node", "dst_keep"),
                F.col("dst") == F.col("dst_keep"),
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        keep.unpersist()
    return edges.groupBy("src").agg(F.count("*").alias("d")).select(
        F.col("src").alias("node"), "d"
    )


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Global triangle/wedge/edge/node counts over an undirected pair
    list, via degree-oriented wedge closure (q89 docstring has the full
    scale argument: orientation bounds out-degree by O(sqrt(m)), so hub
    nodes cannot square). Returns a single-row DataFrame
    [n_nodes, n_edges, n_wedges, n_triangles]."""
    pairs = pairs.persist()
    deg = (
        pairs.select(F.col("p1").alias("node"))
        .unionAll(pairs.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.withColumnRenamed("node", "p1").withColumnRenamed("d", "d1")
    db = deg.withColumnRenamed("node", "p2").withColumnRenamed("d", "d2")
    o = (
        pairs.join(da, "p1")
        .join(db, "p2")
        .select(
            F.when(F.col("d1") <= F.col("d2"), F.col("p1"))
            .otherwise(F.col("p2"))
            .alias("src"),
            F.when(F.col("d1") <= F.col("d2"), F.col("p2"))
            .otherwise(F.col("p1"))
            .alias("dst"),
            F.when(F.col("d1") <= F.col("d2"), F.col("d2"))
            .otherwise(F.col("d1"))
            .alias("dd"),
        )
        .persist()
    )
    wa, wb = o.alias("wa"), o.alias("wb")
    wedges = wa.join(
        wb,
        (F.col("wa.src") == F.col("wb.src"))
        & (
            (F.col("wa.dd") < F.col("wb.dd"))
            | (
                (F.col("wa.dd") == F.col("wb.dd"))
                & (F.col("wa.dst") < F.col("wb.dst"))
            )
        ),
    ).select(F.col("wa.dst").alias("v1"), F.col("wb.dst").alias("v2"))
    # r7: ONE pass over the wedge relation — the old shape referenced
    # wedges in two branches (count + inner-join closure), so the wedge
    # self-join (the expensive step) was built twice. Oriented edges are
    # unique (one row per undirected edge), so a LEFT join preserves the
    # wedge multiset and counts wedges and closed wedges (= triangles) in
    # the same aggregation. Results identical.
    oe = o.select(
        F.col("src").alias("_cs"), F.col("dst").alias("_cd"),
        F.lit(1).alias("_closed"),
    )
    wedge_tri = (
        wedges.join(
            oe, (wedges["v1"] == oe["_cs"]) & (wedges["v2"] == oe["_cd"]),
            "left",
        )
        .agg(
            F.count("*").alias("n_wedges"),
            F.count("_closed").alias("n_triangles"),
        )
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    out = (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wedge_tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    o.unpersist()
    return out
