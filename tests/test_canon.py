"""Connected components: transitive closure, min-id, permutation invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.canon import canonical_surfaces, connected_components


def _run(spark, n, edge_list):
    v = spark.createDataFrame([(i,) for i in range(n)], "mention_id long")
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edge_list] or [],
        "src long, dst long, sim double",
    )
    return {
        r.mention_id: r.component_id
        for r in connected_components(v, e).collect()
    }


def test_chain_transitive_closure(spark):
    # A~B, B~C, A!~C must still collapse (FIXTURES.md §4 chain clusters)
    comp = _run(spark, 4, [(0, 1), (1, 2)])
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == 3


def test_long_chain(spark):
    n = 20
    comp = _run(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert set(comp.values()) == {0}


def test_chain_diameter_exceeding_linear_budget(spark):
    """Pointer jumping converges in O(log2(diameter)) rounds: a 300-long
    chain (diameter >> a linear 25-round budget, ADVICE r1 item 1) must
    converge well inside max_iters=15 (2^15 >> 300)."""
    n = 300
    comp = _run_iters(spark, n, [(i, i + 1) for i in range(n - 1)], max_iters=15)
    assert set(comp.values()) == {0}


def _run_iters(spark, n, edge_list, max_iters):
    v = spark.createDataFrame([(i,) for i in range(n)], "mention_id long")
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edge_list] or [],
        "src long, dst long, sim double",
    )
    return {
        r.mention_id: r.component_id
        for r in connected_components(v, e, max_iters=max_iters).collect()
    }


def test_reliable_checkpoint_mode(spark, tmp_path):
    """reliable=True uses fault-tolerant checkpoint() to the checkpoint dir
    and produces identical assignments (VERDICT r1 item 4)."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    v = spark.createDataFrame([(i,) for i in range(10)], "mention_id long")
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(4)] + [(7, 8, 1.0)],
        "src long, dst long, sim double",
    )
    rel = {
        r.mention_id: r.component_id
        for r in connected_components(v, e, reliable=True).collect()
    }
    loc = {
        r.mention_id: r.component_id
        for r in connected_components(v, e, reliable=False).collect()
    }
    assert rel == loc
    assert set(rel[i] for i in range(5)) == {0}
    # checkpoint files actually landed on the "reliable" FS
    import os
    assert any(os.scandir(str(tmp_path / "ckpt")))


def test_permutation_invariance(spark):
    edges = [(0, 1), (1, 2), (5, 6)]
    comp_a = _run(spark, 8, edges)
    comp_b = _run(spark, 8, [(b, a) for a, b in reversed(edges)])
    # repeated edges, both orientations of one edge and self-loops (on a
    # linked and on an isolated vertex) change no component
    comp_c = _run(spark, 8, edges + [(0, 1), (1, 0), (6, 5), (2, 2), (7, 7)])
    assert comp_a == comp_b == comp_c


def test_min_id_convention(spark):
    comp = _run(spark, 5, [(3, 4), (2, 3)])
    assert comp[2] == comp[3] == comp[4] == 2


def test_empty_edges(spark):
    comp = _run(spark, 3, [])
    assert comp == {0: 0, 1: 1, 2: 2}


def test_empty_edges_run_no_round(spark, monkeypatch):
    """No edges: the empty initial assignment is already a fixpoint, so
    only the two truncations before the first round run."""
    from kgforge import canon

    calls = []
    real = canon._truncate

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(canon, "_truncate", counting)
    assert _run(spark, 3, []) == {0: 0, 1: 1, 2: 2}
    assert len(calls) == 2
    assert _run(spark, 3, [(0, 1)]) == {0: 0, 1: 0, 2: 2}
    assert len(calls) == 5  # two more before, one round


def test_edge_input_is_computed_once(spark):
    """The edge plan (in a real build: the whole linker) is scanned once,
    not once per orientation of the symmetrized edge list."""
    acc = spark.sparkContext.accumulator(0)

    def counted(x):
        acc.add(1)
        return x

    pairs = [(0, 1), (1, 2), (3, 4), (4, 5), (6, 7)]
    raw = spark.createDataFrame(pairs, "src long, dst long")
    edges = raw.select(F.udf(counted, "long")("src").alias("src"), "dst")
    v = spark.createDataFrame([(i,) for i in range(9)], "mention_id long")
    connected_components(v, edges).collect()
    assert acc.value == len(pairs)


def test_canonical_surface_min_member(spark):
    assign = spark.createDataFrame(
        [(10, 10), (11, 10), (12, 12)], "mention_id long, component_id long"
    )
    keyed = spark.createDataFrame(
        [
            (10, "PRODUCT", "zeta name"),
            (11, "PRODUCT", "alpha name"),
            (12, "PRODUCT", "solo"),
        ],
        "mention_id long, entity_type string, norm_surface string",
    )
    out = {r.mention_id: r.canon_surface for r in canonical_surfaces(assign, keyed).collect()}
    # canonical surface comes from the MIN mention_id member (deterministic),
    # not lexicographic min surface
    assert out[10] == "zeta name" and out[11] == "zeta name"
    assert out[12] == "solo"
