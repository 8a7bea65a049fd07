"""Physical-plan assertions: pushdown, pruning, broadcast, codegen, top-k.

SURVEY.md §4: the reference has no optimizer; kgforge relies on Catalyst and
VERIFIES the plans it expects — a scan that reads all columns for a
2-column projection is wrong even if results match.
"""

from __future__ import annotations

from kgforge.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return (
        REGISTRY[name]
        .fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q02_filter_project")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderstatus)" in plan or "EqualTo(o_orderstatus,O)" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "q02_filter_project")
    # ReadSchema must NOT include untouched columns
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:400]


def test_broadcast_join_chosen(spark):
    plan = plan_of(spark, "q07_segment_revenue")
    assert "BroadcastHashJoin" in plan


def test_anti_join_strategy(spark):
    plan = plan_of(spark, "q13_customers_without_orders")
    assert "LeftAnti" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q11_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_whole_stage_codegen(spark):
    df = REGISTRY["q01_pricing_summary"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan or "WholeStageCodegen" in plan  # codegen stage marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_aggregation_before_shuffle(spark):
    # partial_ functions in the first HashAggregate = map-side combine
    plan = plan_of(spark, "q01_pricing_summary")
    assert "partial_" in plan


def test_textops_stay_jvm_side(spark):
    plan = plan_of(spark, "q25_quality_scores")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_no_broadcast_of_fact_cardinality_sides(spark):
    """VERDICT r1 'What's wrong' #1/#2: no explicit BroadcastExchange of a
    fact-sized aggregate. q17's per-customer count join and link.py's
    block-count lookup must NOT carry a broadcast *hint* — AQE may still
    choose broadcast while the data is small (that's the point), so we
    assert on the analyzed logical plan's hints, not the physical plan."""
    from kgforge.link import candidate_pairs
    from pyspark.sql import functions as F

    # q17: the logical plan must contain no UnresolvedHint/ResolvedHint on
    # the per-customer aggregate (the 1-row stats broadcast is fine — its
    # subtree has no groupBy).
    df17 = REGISTRY["q17_weighted_score"].fn(spark, SF)
    logical = df17._jdf.queryExecution().analyzed().toString()
    # exactly one hint: the single-row stats crossJoin
    assert logical.count("ResolvedHint") <= 1, logical[:2000]

    # link.py: candidate_pairs' plan must have no broadcast hint at all
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("mention_id"),
        F.lit("PRODUCT").alias("entity_type"),
        F.col("text").alias("norm_surface"),
    )
    pairs = candidate_pairs(docs)
    logical2 = pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical2, logical2[:2000]
    # and block counts come from a window, not a join-of-counts
    physical = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Window" in physical


def test_mention_table_partition_pruning(spark, tmp_path):
    """part_id filter on the written mention table prunes directories."""
    from kgforge.pipeline import KGPaths, run_extraction
    from kgforge.synth import synth_source_files
    from pyspark.sql import functions as F

    paths = KGPaths(
        str(tmp_path / "m"), str(tmp_path / "t"), str(tmp_path / "l")
    )
    run_extraction(spark, synth_source_files(spark, 80), paths, n_parts=8)
    df = spark.read.parquet(paths.mentions).filter(F.col("part_id") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part_id" in plan or "part_id#" in plan
    # only one directory's files are scanned
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan


def test_grid_range_join_is_shuffled_equi_join(spark):
    """q69's large-large range join must meet in a shuffled SortMergeJoin
    on the grid cell — no broadcast of either side, no nested-loop or
    cartesian fallback (the shapes that die when both sides are
    fact-scale)."""
    from kgforge.queries import REGISTRY

    df = REGISTRY["q69_range_join_grid"].fn(spark, SF)
    df.collect()  # AQE finalizes the join strategy on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grid_range_join_hot_cell_aqe_skew_split(spark):
    """VERDICT r4 #5: a hot grid cell (80% of points in one cell — a hot
    value range like a price spike) must be split by AQE skew-join, not
    serialized into one straggler task. Forced-low skew thresholds, driven
    through grid_range_join itself so the skew path of the PRODUCTION
    operator is what's pinned."""
    import pyspark.sql.functions as F

    from kgforge.queries import grid_range_join

    skew_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in skew_conf}
    try:
        for k, v in skew_conf.items():
            spark.conf.set(k, v)
        # 80% of points land in cell 0 ([0, 1000)); the rest spread
        points = spark.range(0, 150_000).select(
            F.col("id").alias("point_id"),
            F.when(F.col("id") % 5 < 4, (F.col("id") % 1000).cast("double"))
            .otherwise((F.col("id") % 100_000).cast("double") + 1000.0)
            .alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        # intervals also concentrate on the hot range so the hot cell is
        # hot on BOTH sides of the equi-join
        intervals = spark.range(0, 2_000).select(
            F.col("id").alias("band_id"),
            F.when(F.col("id") % 5 < 4, (F.col("id") % 10).cast("double") * 100)
            .otherwise((F.col("id") * 50).cast("double")).alias("lo"),
            (F.when(F.col("id") % 5 < 4, (F.col("id") % 10).cast("double") * 100)
             .otherwise((F.col("id") * 50).cast("double")) + 250.0).alias("hi"),
        )
        j = grid_range_join(points, intervals, "v").groupBy("band_id").count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_locf_windows_are_bucketed_not_per_series(spark):
    """VERDICT r5 #6: q64's LOCF must never run one unbounded-preceding
    window over a whole series (a long series would serialize into a
    single task). The plan must show the heavy window partitioned by
    (series, bucket); the only series-wide window allowed is the one over
    the tiny bucket-summary relation."""
    import re

    from kgforge.queries import REGISTRY

    df = REGISTRY["q64_gap_fill_locf"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = re.findall(r"Window \[.*", plan)
    assert windows, plan[:1500]
    in_bucket = [w for w in windows if "bucket" in w and "day" in w]
    # the within-bucket pass exists and is bucket-partitioned
    assert any("event_type" in w and "bucket" in w for w in in_bucket), windows
    # no window orders the full series by day without a bucket key
    per_series = [
        w for w in windows if "day" in w and "bucket" not in w
    ]
    assert not per_series, per_series


def _operators(plan) -> list[str]:
    """Operator names of an executed physical plan, descending through
    adaptive plans and query stages but not into cached relations: a
    persisted input shows up as one InMemoryTableScan/TableCacheQueryStage
    leaf, not as the plan that built it."""
    name = plan.nodeName()
    if name in ("InMemoryTableScan", "TableCacheQueryStage"):
        return [name]
    if name == "AdaptiveSparkPlan":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    return [name] + [op for k in kids for op in _operators(k)]


def test_pagerank_iteration_plans_one_exchange(spark, monkeypatch):
    """ROADMAP item 4: each personalized-PageRank iteration keeps both of
    its joins on the edge cache's layout. In the executed plan of the
    checkpointed result, every join is a ShuffledHashJoin, nothing is
    broadcast, and the only Exchange per iteration is the per-dst sum's
    (the cached edge and seed-marked relations are leaves here)."""
    import hashlib

    from pyspark.sql import functions as F

    from kgforge.graph import personalized_pagerank_scaled

    pairs = set()
    for i in range(80):  # seeded pseudo-random graph on 30 nodes
        h = hashlib.md5(f"p{i}".encode()).digest()
        a, b = h[0] % 30, h[1] % 30
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs_df = spark.createDataFrame(sorted(pairs), "p1 long, p2 long")
    sources = spark.createDataFrame([(0,), (7,)], "node long")
    checkpointed = []
    real = type(pairs_df).localCheckpoint

    def capture(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs_df), "localCheckpoint", capture)
    iters = 3
    out = personalized_pagerank_scaled(pairs_df, sources, iters=iters)
    assert out.filter(F.col("r") > 0).count() > 0
    ops = _operators(checkpointed[-1]._jdf.queryExecution().executedPlan())
    joins = [op for op in ops if "Join" in op]
    assert joins == ["ShuffledHashJoin"] * (2 * iters), ops
    assert "BroadcastExchange" not in ops, ops
    assert ops.count("Exchange") == iters, ops
