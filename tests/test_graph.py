"""Behavior tests for kgforge/graph.py engine capabilities (BFS hop
distances, k-core peel) and the pipeline's PageRank entity salience.

Strategy mirrors test_graph_temporal: handmade graphs with eye-checkable
goldens, plus exact cross-checks on seeded pseudo-random graphs — BFS
against a DuckDB recursive CTE (the same oracle engine the registry gate
uses), k-core against a brute-force Python peel."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from kgforge.graph import bfs_hops, k_core, pagerank_scaled


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
# BFS
# ---------------------------------------------------------------------------


def test_bfs_path_graph_distances(spark):
    """Path 0-1-2-3-4 from source 0: dist == node id."""
    pairs = [(i, i + 1) for i in range(4)]
    got = {
        r.node: r.dist
        for r in bfs_hops(_pairs_df(spark, pairs), _sources_df(spark, [0])).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_multi_source_takes_min(spark):
    """Sources at both ends of a path: dist is min over sources."""
    pairs = [(i, i + 1) for i in range(4)]
    got = {
        r.node: r.dist
        for r in bfs_hops(
            _pairs_df(spark, pairs), _sources_df(spark, [0, 4])
        ).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_unreachable_absent_and_max_hops_truncates(spark):
    """Disconnected component never appears; max_hops bounds the sweep."""
    pairs = [(0, 1), (1, 2), (2, 3), (10, 11)]
    df = bfs_hops(_pairs_df(spark, pairs), _sources_df(spark, [0]), max_hops=2)
    got = {r.node: r.dist for r in df.collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # 3 cut by max_hops; 10/11 unreachable


def test_bfs_matches_duckdb_recursive_cte(spark):
    """Exact distances on a seeded pseudo-random graph vs a recursive-CTE
    oracle (min-hop BFS), node-for-node."""
    pairs = _random_pairs()
    sources = [0, 1]
    spark_got = {
        r.node: r.dist
        for r in bfs_hops(
            _pairs_df(spark, pairs), _sources_df(spark, sources), max_hops=12
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pairs(p1 BIGINT, p2 BIGINT)"
    )
    con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
    oracle = dict(
        con.execute(
            """
            WITH RECURSIVE edges AS (
                SELECT p1 AS src, p2 AS dst FROM pairs
                UNION ALL
                SELECT p2, p1 FROM pairs
            ), walk(node, dist) AS (
                SELECT * FROM (VALUES (0::BIGINT, 0), (1::BIGINT, 0))
                UNION
                SELECT e.dst, w.dist + 1
                FROM walk w JOIN edges e ON e.src = w.node
                WHERE w.dist < 12
            )
            SELECT node, min(dist) FROM walk GROUP BY node
            """
        ).fetchall()
    )
    assert spark_got == oracle


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def test_k_core_triangle_with_pendant(spark):
    """Triangle 0-1-2 plus pendant 2-3: the 2-core is exactly the
    triangle, every core degree 2."""
    pairs = [(0, 1), (0, 2), (1, 2), (2, 3)]
    got = {r.node: r.d for r in k_core(_pairs_df(spark, pairs), 2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_k_core_cascading_peel(spark):
    """Chain into a triangle: peeling the chain end cascades node by node
    (exercises multi-round convergence), leaving only the triangle."""
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (3, 5), (4, 5)]
    got = {r.node: r.d for r in k_core(_pairs_df(spark, pairs), 2).collect()}
    assert got == {3: 2, 4: 2, 5: 2}


def test_k_core_empty_when_k_exceeds_graph(spark):
    pairs = [(0, 1), (1, 2)]
    assert k_core(_pairs_df(spark, pairs), 3).count() == 0


def _brute_k_core(pairs, k):
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(v) for n, v in adj.items() if v}


@pytest.mark.parametrize("k", [2, 3, 4])
def test_k_core_matches_brute_force(spark, k):
    pairs = _random_pairs(n_nodes=30, n_edges=80)
    got = {r.node: r.d for r in k_core(_pairs_df(spark, pairs), k).collect()}
    assert got == _brute_k_core(pairs, k)


def test_k_core_idempotent(spark):
    """k-core of the k-core is itself (fixpoint property)."""
    pairs = _random_pairs(n_nodes=25, n_edges=60)
    core1 = {r.node: r.d for r in k_core(_pairs_df(spark, pairs), 3).collect()}
    core_pairs = [
        (a, b) for a, b in pairs if a in core1 and b in core1
    ]
    core2 = {
        r.node: r.d for r in k_core(_pairs_df(spark, core_pairs), 3).collect()
    }
    assert core1 == core2


# ---------------------------------------------------------------------------
# PageRank (exact goldens: the Python mirror below, for both the global and
# the personalized form; q88 gates the global form against DuckDB too)
# ---------------------------------------------------------------------------


def test_pagerank_star_center_dominates(spark):
    pairs = [(0, i) for i in range(1, 6)]
    rows = pagerank_scaled(_pairs_df(spark, pairs)).collect()
    ranks = {r.node: r.r for r in rows}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))
    leaf_ranks = {ranks[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1  # symmetry => identical integer ranks


def test_graph_ops_plans_have_no_cartesian(spark):
    """Every join in the iterative BFS / k-core lineage must be an
    equi-join (the whole-plan lineage includes every round)."""
    pairs = _pairs_df(spark, _random_pairs(n_nodes=20, n_edges=40))
    for df in (
        bfs_hops(pairs, _sources_df(spark, [0]), max_hops=3),
        k_core(pairs, 2, max_rounds=5),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "CartesianProduct" not in plan and "cartesian" not in plan, plan[:1200]


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
