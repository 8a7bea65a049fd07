"""Behavior tests for kgforge/graph.py: the pipeline's PageRank entity
salience (global) and related-entity ranking (personalized).

Strategy: handmade graphs with eye-checkable goldens, plus exact
cross-checks on seeded pseudo-random graphs against a bit-exact Python
mirror of the integer recurrence."""

from __future__ import annotations

import hashlib

import pytest

from kgforge.graph import pagerank_scaled


def _pairs_df(spark, pairs):
    return spark.createDataFrame(sorted(set(pairs)), "p1 long, p2 long")


def _sources_df(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def _random_pairs(n_nodes=40, n_edges=90):
    """Seeded pseudo-random undirected edge list (md5-derived, no RNG)."""
    out = set()
    i = 0
    while len(out) < n_edges:
        h = hashlib.md5(f"e{i}".encode()).digest()
        a = h[0] % n_nodes
        b = h[1] % n_nodes
        i += 1
        if a == b:
            continue
        out.add((min(a, b), max(a, b)))
    return sorted(out)


# ---------------------------------------------------------------------------
# PageRank (exact goldens: the Python mirror below, for both the global and
# the personalized form)
# ---------------------------------------------------------------------------


def test_pagerank_star_center_dominates(spark):
    pairs = [(0, i) for i in range(1, 6)]
    rows = pagerank_scaled(_pairs_df(spark, pairs)).collect()
    ranks = {r.node: r.r for r in rows}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))
    leaf_ranks = {ranks[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1  # symmetry => identical integer ranks


def test_pagerank_rank_mass_conserved(spark):
    """Total scaled rank stays within floor-loss distance of PR_SCALE:
    every operation floors, so mass can only leak downward, and each of
    the 4 iterations loses < 2 units per node/edge — parts in 10^6 of the
    10^12 scale on this fixture."""
    from kgforge.graph import PR_SCALE

    pairs = _random_pairs(n_nodes=20, n_edges=40)
    rows = pagerank_scaled(_pairs_df(spark, pairs)).collect()
    total = sum(r.r for r in rows)
    assert PR_SCALE - 1_000_000 <= total <= PR_SCALE


def test_graph_ops_plans_have_no_cartesian(spark, monkeypatch):
    """Every join in the iterative PageRank lineage, global and
    personalized, must be an equi-join. The result is checkpointed, so the
    relation handed to localCheckpoint is captured: its plan holds every
    round."""
    from kgforge.graph import personalized_pagerank_scaled

    pairs = _pairs_df(spark, _random_pairs(n_nodes=20, n_edges=40))
    checkpointed = []
    real = type(pairs).localCheckpoint

    def capture(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", capture)
    pagerank_scaled(pairs)
    personalized_pagerank_scaled(pairs, _sources_df(spark, [0]))
    assert len(checkpointed) == 2
    for df in checkpointed:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" in plan, plan[:1200]
        assert "CartesianProduct" not in plan and "cartesian" not in plan, plan[:1200]


def test_pagerank_empty_pair_list_has_no_rows(spark):
    """A KG with no co-mentions has an empty pair list: PageRank returns
    no rows instead of dividing by a zero node count."""
    assert pagerank_scaled(_pairs_df(spark, [])).collect() == []


def _ppr_python(pairs, sources, iters=4, num=17, den=20):
    """Bit-exact Python mirror of personalized_pagerank_scaled's integer
    recurrence (same floor arithmetic, same order-free sums)."""
    import collections

    from kgforge.graph import PR_SCALE

    adj = collections.defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    nodes = sorted(adj)
    S = [s for s in sources if s in adj]
    base = ((den - num) * PR_SCALE) // (den * len(S))
    r = {v: (PR_SCALE // len(S) if v in S else 0) for v in nodes}
    for _ in range(iters):
        s = collections.defaultdict(int)
        for u in nodes:
            c = r[u] // len(adj[u])
            for v in adj[u]:
                s[v] += c
        r = {
            v: (base if v in S else 0) + (num * s[v]) // den for v in nodes
        }
    return r


def test_personalized_pagerank_matches_python_mirror(spark):
    """Every node's scaled rank equals the exact Python reimplementation
    of the integer recurrence — bit-for-bit (the determinism claim).
    Global PageRank is the same recurrence with every node a source
    (base 3T // (20n), start value T // n)."""
    from kgforge.graph import personalized_pagerank_scaled

    pairs = _random_pairs(n_nodes=25, n_edges=55)
    sources = [0, 3, 7]
    got = {
        r.node: r.r
        for r in personalized_pagerank_scaled(
            _pairs_df(spark, pairs), _sources_df(spark, sources)
        ).collect()
    }
    assert got == _ppr_python(pairs, sources)

    for n_nodes, n_edges in ((25, 55), (40, 90), (12, 20)):
        pairs = _random_pairs(n_nodes=n_nodes, n_edges=n_edges)
        all_nodes = sorted({v for e in pairs for v in e})
        got = {
            r.node: r.r
            for r in pagerank_scaled(_pairs_df(spark, pairs)).collect()
        }
        assert got == _ppr_python(pairs, all_nodes), (n_nodes, n_edges)


def test_personalized_pagerank_locality(spark):
    """On a path with one seed, rank decays with distance WITHIN each
    parity class (undirected walks oscillate between parities on a path),
    and a node farther than `iters` hops has exactly zero mass."""
    from kgforge.graph import personalized_pagerank_scaled

    pairs = [(i, i + 1) for i in range(5)]
    got = {
        r.node: r.r
        for r in personalized_pagerank_scaled(
            _pairs_df(spark, pairs), _sources_df(spark, [0])
        ).collect()
    }
    assert got[0] > got[2] > got[4]
    assert got[1] > got[3] > got[5]
    assert got[5] == 0  # 5 hops away, 4 iterations


def test_pagerank_pair_input_is_computed_once(spark):
    """The pair plan (in the pipeline: the co-mention self-join) is
    evaluated once per PageRank call: the edge cache serves the loop, the
    degrees and pagerank_scaled's node set alike."""
    from pyspark.sql import functions as F

    from kgforge.graph import personalized_pagerank_scaled

    acc = spark.sparkContext.accumulator(0)

    def counted(x):
        acc.add(1)
        return x

    pairs = _random_pairs(n_nodes=12, n_edges=20)
    raw = _pairs_df(spark, pairs)
    counted_pairs = raw.select(F.udf(counted, "long")("p1").alias("p1"), "p2")
    pagerank_scaled(counted_pairs).collect()
    assert acc.value == len(pairs)
    personalized_pagerank_scaled(
        counted_pairs, _sources_df(spark, [0, 5])
    ).collect()
    assert acc.value == 2 * len(pairs)


def test_personalized_pagerank_seed_flag(spark):
    """is_src marks exactly the seeds that are in the edge list; every
    other node carries 0."""
    from kgforge.graph import personalized_pagerank_scaled

    pairs = _random_pairs(n_nodes=25, n_edges=55)
    rows = personalized_pagerank_scaled(
        _pairs_df(spark, pairs), _sources_df(spark, [0, 3, 7, 99])
    ).collect()
    assert {r.node for r in rows if r.is_src == 1} == {0, 3, 7}
    assert {r.is_src for r in rows} == {0, 1}


def test_personalized_pagerank_no_graph_seeds_empty(spark):
    from kgforge.graph import personalized_pagerank_scaled

    pairs = [(0, 1)]
    out = personalized_pagerank_scaled(
        _pairs_df(spark, pairs), _sources_df(spark, [99])
    )
    assert out.count() == 0


def test_personalized_pagerank_releases_caches_when_a_job_fails(spark):
    """The edge and seed-degree caches are released on the failure path
    too: a sources relation whose evaluation raises makes the call raise,
    and the session's CacheManager is empty afterwards."""
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from kgforge.graph import personalized_pagerank_scaled

    sources = spark.range(1).select(
        F.raise_error(F.lit("bad sources")).cast("long").alias("node")
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(PySparkException, match="bad sources"):
        personalized_pagerank_scaled(_pairs_df(spark, [(0, 1)]), sources)
    assert cache.isEmpty()
