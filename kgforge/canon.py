"""Canonicalization: iterative connected components over the mention graph.

Absent from the reference (SURVEY.md §2.6); required by the north rule.
Min-label propagation with **pointer jumping** expressed entirely as
DataFrame joins + aggregations, over the edge endpoints only:

- state: assignment (id -> comp) of every vertex that touches an edge,
  initialized from the edge list to min(self, neighbours) (one relax);
- each round: (a) relax — push min(comp) across edges in both directions
  and re-minimize per id (one hop), then (b) jump — comp := comp(comp),
  following the label one more hop (the Shiloach-Vishkin / pointer-doubling
  step, same effect as the large-star round in Kiveris et al.). Relax+jump
  halves the remaining distance to each component's min every round, so
  convergence is O(log2(diameter)) rounds — a diameter-1e9 chain fits in
  ~30 rounds (MAX_ITERS=50 is an assert-with-slack, not a budget).
- converged when no assignment changed (exact decimal id-sum witness —
  min-propagation only ever decreases ids).

Isolated vertices skip the rounds (min-propagation cannot change them) and
are labelled with their own id by one left join at the end; with no edges
at all, no round runs.

Lineage each round is truncated by checkpointing: ``localCheckpoint`` by
default (fast, executor-local — fine on local[k]), or **reliable**
``checkpoint()`` to the fault-tolerant FS when ``reliable=True`` /
KGFORGE_RELIABLE_CKPT is set — on a real cluster an executor loss mid-CC
must recompute from the checkpoint, not kill the job (VERDICT r1 item 4).

Deterministic: component id = min(mention_id) of the component (min-id
convention, permutation-invariant — property-tested).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge.graph import symmetrize

MAX_ITERS = 50


def _truncate(df: DataFrame, reliable: bool, eager: bool = True) -> DataFrame:
    """Cut lineage: reliable checkpoint to the checkpoint dir, or local."""
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _ensure_ckpt_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("KGFORGE_CKPT_DIR", "/tmp/kgforge_ckpt")
        )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iters: int = MAX_ITERS,
    reliable: bool | None = None,
) -> DataFrame:
    """vertices(mention_id) + edges(src, dst) -> (mention_id, component_id).

    Only edge endpoints iterate; every edge endpoint must be a vertex.
    Each endpoint starts at min(self, neighbours), read straight off the
    symmetric edge list. Each iteration: two hash joins (edge ⨝
    assignment, assignment ⨝ assignment) + one hash agg — all
    shuffle-partitioned on the id key, so consecutive rounds reuse the
    same partitioning. AQE handles skewed hub components. Duplicate edges
    and self-loops change no minimum.
    """
    if reliable is None:
        reliable = bool(os.environ.get("KGFORGE_RELIABLE_CKPT"))
    if reliable:
        _ensure_ckpt_dir(vertices)

    sym = _truncate(
        symmetrize(edges.select(F.col("src").alias("p1"), F.col("dst").alias("p2"))),
        reliable,
    )
    assign = _truncate(
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component_id"))
        .withColumnRenamed("src", "mention_id"),
        reliable,
    )

    # Convergence detection: min-propagation only ever DECREASES component
    # ids, so the exact decimal sum of ids is a fixpoint witness — one
    # scan-agg per iteration instead of a shuffle join + count.
    def _sum_ids(df: DataFrame):
        return df.agg(
            F.sum(F.col("component_id").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _sum_ids(assign)
    # no edges: the assignment is empty, its sum NULL, and it is already a
    # fixpoint — every vertex is isolated
    converged = prev_sum is None
    for _ in range(max_iters):
        if converged:
            break
        # (a) relax: neighbor's current component, pushed across each edge
        nbr = (
            sym.join(assign, sym["dst"] == assign["mention_id"], "inner")
            .select(F.col("src").alias("mention_id"), F.col("component_id"))
        )
        relaxed = (
            assign.unionByName(nbr)
            .groupBy("mention_id")
            .agg(F.min("component_id").alias("component_id"))
        )
        # (b) jump: comp := comp(comp) — every component_id is itself a
        # vertex id, so the self-join is total (left join is belt-and-
        # braces for isolated vertices). This is what turns linear-diameter
        # propagation into log-diameter.
        ptr = relaxed.select(
            F.col("mention_id").alias("_pid"),
            F.col("component_id").alias("_pcomp"),
        )
        # local mode: lazy checkpoint — the convergence agg below is the
        # single action that both materializes this round's assignment and
        # tests the fixpoint (one Spark job per iteration). Reliable mode:
        # eager — a lazy reliable checkpoint would recompute the whole plan
        # a second time when the checkpoint job fires after the agg.
        new_assign = _truncate(
            relaxed.join(ptr, relaxed["component_id"] == ptr["_pid"], "left")
            .select(
                "mention_id",
                F.coalesce(F.col("_pcomp"), F.col("component_id")).alias(
                    "component_id"
                ),
            ),
            reliable,
            eager=reliable,
        )

        new_sum = _sum_ids(new_assign)
        assign = new_assign
        converged = new_sum == prev_sum
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iters} iters")
    return vertices.join(assign, "mention_id", "left").select(
        "mention_id",
        F.coalesce(F.col("component_id"), F.col("mention_id")).alias(
            "component_id"
        ),
    )


def canonical_surfaces(assign: DataFrame, mentions_keyed: DataFrame) -> DataFrame:
    """Pick each component's canonical surface = the min-mention-id member's
    norm_surface (deterministic), and attach it to every member mention."""
    first = F.min(F.struct("mention_id", "norm_surface")).over(
        Window.partitionBy("component_id")
    )
    return mentions_keyed.join(assign, "mention_id").withColumn(
        "canon_surface", first["norm_surface"]
    )
