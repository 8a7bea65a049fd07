"""End-to-end pipeline: triples, lineage, kill/resume byte-identity."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kgforge import lineage as lin
from kgforge.pipeline import (
    KGPaths,
    STAGE_MENTIONS,
    run_extraction,
    run_graph,
    run_kg,
)
from kgforge.schemas import PRED_DECLARES, PRED_HAS_ATTR
from kgforge.synth import synth_source_files

N = 250
PARTS = 8


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "kg")


def _paths(outdir):
    return KGPaths(
        mentions=f"{outdir}/mentions",
        triples=f"{outdir}/triples",
        lineage=f"{outdir}/lineage",
    )


def _triple_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_full_pipeline_shapes(spark, outdir):
    triples = run_kg(spark, synth_source_files(spark, N), outdir, n_parts=PARTS)
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert preds == {PRED_DECLARES, PRED_HAS_ATTR}
    # dedup: (subj,pred,obj) unique
    total = triples.count()
    assert triples.select("subj", "pred", "obj").distinct().count() == total
    # lineage rows exist for both stages and every partition
    ldf = spark.read.parquet(f"{outdir}/lineage")
    stages = {r.stage for r in ldf.select("stage").distinct().collect()}
    assert stages == {"mentions", "triples", "graph_input"}
    assert ldf.filter(F.col("stage") == "mentions").count() == PARTS


def test_resume_is_byte_identical(spark, outdir, tmp_path):
    """Kill-after-k-partitions resume (north rule): a run over only part of
    the input, resumed over the rest, must equal a clean full run —
    fingerprints and triple sets both."""
    src = synth_source_files(spark, N)
    paths = _paths(outdir)

    # simulated partial run: only partitions 0-2 worth of input survive the
    # "kill" (we filter the input; lineage marks those partitions done)
    from kgforge.materialize import with_part_id
    from kgforge.extract import with_clean

    partial = with_part_id(with_clean(src), ["repo", "path"], PARTS).filter(
        F.col("part_id") < 3
    ).select("repo", "path", "commit", "lang", "content")
    run_extraction(spark, partial, paths, n_parts=PARTS, resume=True)
    done = lin.completed_parts(spark, paths.lineage, STAGE_MENTIONS)
    assert len(done) == 3

    # resume with the FULL input: must skip the 3 done partitions
    run_extraction(spark, src, paths, n_parts=PARTS, resume=True)
    assert len(lin.completed_parts(spark, paths.lineage, STAGE_MENTIONS)) == PARTS
    resumed = run_graph(spark, paths, n_parts=PARTS)

    # clean reference run
    clean_dir = str(tmp_path / "clean")
    reference = run_kg(spark, src, clean_dir, n_parts=PARTS)

    assert _triple_set(resumed) == _triple_set(reference)
    fp_a = {
        (r.stage, r.part_id, r.n_rows, r.fingerprint)
        for r in spark.read.parquet(f"{outdir}/lineage").collect()
    }
    fp_b = {
        (r.stage, r.part_id, r.n_rows, r.fingerprint)
        for r in spark.read.parquet(f"{clean_dir}/lineage").collect()
    }
    assert fp_a == fp_b


def test_rerun_extraction_is_idempotent(spark, outdir):
    src = synth_source_files(spark, 120)
    paths = _paths(outdir)
    run_extraction(spark, src, paths, n_parts=PARTS)
    before = spark.read.parquet(paths.mentions).count()
    # second run: everything committed -> no new partitions, no duplication
    run_extraction(spark, src, paths, n_parts=PARTS)
    after = spark.read.parquet(paths.mentions).count()
    assert before == after
    ldf = spark.read.parquet(paths.lineage).filter(F.col("stage") == "mentions")
    assert ldf.groupBy("part_id").count().filter(F.col("count") > 1).count() == 0


def test_parallelism_determinism_of_triples(spark, outdir, tmp_path):
    """Same triples at different shuffle widths (8-vs-32-core stand-in)."""
    src = synth_source_files(spark, 150, partitions=3)
    a = run_kg(spark, src, outdir, n_parts=4)
    src2 = synth_source_files(spark, 150, partitions=13)
    b = run_kg(spark, src2, str(tmp_path / "b"), n_parts=4)
    assert _triple_set(a) == _triple_set(b)


def test_graph_phase_short_circuits_when_input_unchanged(spark, outdir):
    src = synth_source_files(spark, 100)
    run_kg(spark, src, outdir, n_parts=4)
    ldf = spark.read.parquet(f"{outdir}/lineage")
    n_before = ldf.filter(F.col("stage") == "triples").count()
    # identical rerun: extraction skips every partition, graph phase must
    # short-circuit on the graph_input fingerprint marker
    triples = run_kg(spark, src, outdir, n_parts=4)
    ldf2 = spark.read.parquet(f"{outdir}/lineage")
    assert ldf2.filter(F.col("stage") == "triples").count() == n_before
    assert triples.count() > 0


def _parquet_content_hashes(path: str) -> dict[str, list[str]]:
    """{partition_dir: sorted sha256 of each parquet file's bytes} — file
    NAMES carry a per-job UUID, so identity is asserted on contents."""
    import hashlib
    import os

    out: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        hs = [
            hashlib.sha256(open(os.path.join(root, f), "rb").read()).hexdigest()
            for f in files
            if f.endswith(".parquet")
        ]
        if hs:
            out[rel] = sorted(hs)
    return out


def test_upsert_partitioned_merge_semantics(spark, tmp_path):
    """MERGE at the materialize seam (VERDICT r4 #7): matched keys update
    (resolver applied), unmatched insert, everything else survives."""
    from kgforge.materialize import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", "p", "x", "r9"), ("b", "p", "y", "r5"), ("c", "p", "z", "r7")],
        "subj string, pred string, obj string, repo string",
    )
    upsert_partitioned(base, path, ["subj", "pred", "obj"], n_parts=4)
    changes = spark.createDataFrame(
        [("b", "p", "y", "r2"), ("d", "p", "w", "r1")],
        "subj string, pred string, obj string, repo string",
    )
    upsert_partitioned(
        changes, path, ["subj", "pred", "obj"], n_parts=4,
        resolve={"repo": F.least},
    )
    rows = {
        (r.subj, r.obj): r.repo
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {("a", "x"): "r9", ("b", "y"): "r2",
                    ("c", "z"): "r7", ("d", "w"): "r1"}


def test_upsert_same_changes_twice_is_byte_identical(spark, tmp_path):
    """Idempotency gate (VERDICT r4 #7 'done' criterion): re-merging the
    SAME change set leaves the table byte-identical — parquet contents
    compared file-by-file (sorted writes make layout deterministic)."""
    from kgforge.materialize import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = synth_source_files(spark, 60).select(
        F.col("repo").alias("subj"), F.lit("p").alias("pred"),
        F.col("path").alias("obj"), F.col("commit").alias("repo"),
    )
    upsert_partitioned(base, path, ["subj", "pred", "obj"], n_parts=4)
    changes = base.limit(20).withColumn("repo", F.lit("zz"))
    upsert_partitioned(
        changes, path, ["subj", "pred", "obj"], n_parts=4,
        resolve={"repo": F.least},
    )
    first = _parquet_content_hashes(path)
    n_first = spark.read.parquet(path).count()
    upsert_partitioned(
        changes, path, ["subj", "pred", "obj"], n_parts=4,
        resolve={"repo": F.least},
    )
    assert _parquet_content_hashes(path) == first
    assert spark.read.parquet(path).count() == n_first


def test_upsert_empty_change_set_is_noop(spark, tmp_path):
    """Upserting zero changes must leave the table untouched (no partition
    is 'touched', nothing is rewritten)."""
    from kgforge.materialize import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", "p", "x", "r1")],
        "subj string, pred string, obj string, repo string",
    )
    upsert_partitioned(base, path, ["subj", "pred", "obj"], n_parts=4)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    upsert_partitioned(
        base.filter(F.lit(False)), path, ["subj", "pred", "obj"], n_parts=4
    )
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before


def test_upsert_refuses_mismatched_n_parts(spark, tmp_path):
    """A batch merged with a different n_parts than the table was built
    with must FAIL FAST (the join would otherwise insert duplicates while
    stale rows survive — code-review r5)."""
    from kgforge.materialize import upsert_partitioned

    path = str(tmp_path / "tbl")
    rows = [(f"s{i}", "p", f"o{i}", "r") for i in range(40)]
    base = spark.createDataFrame(
        rows, "subj string, pred string, obj string, repo string"
    )
    upsert_partitioned(base, path, ["subj", "pred", "obj"], n_parts=64)
    with pytest.raises(ValueError, match="n_parts"):
        upsert_partitioned(
            base.limit(5), path, ["subj", "pred", "obj"], n_parts=32
        )


def test_cdc_incremental_batches_merge_exactly(spark, tmp_path):
    """Two source batches ingested incrementally (per-batch work dirs +
    one shared triple table via run_kg(upsert=True, triples_path=...)):
    the shared table must be EXACTLY the key-union of the two batches'
    independently-built triple tables, with least()-merged provenance on
    overlapping keys. (Deliberately NOT compared against a full rebuild:
    entity linking/canonicalization is corpus-global, so incremental
    batches canonicalize within-batch — the standard lambda tradeoff;
    a periodic full re-canonicalization run closes that gap. The MERGE
    itself must be exact, and that is what this pins.)"""
    src = synth_source_files(spark, 200)
    batch_a = src.filter(F.xxhash64("repo", "path") % 2 == 0)
    batch_b = src.filter(F.xxhash64("repo", "path") % 2 != 0)
    shared = str(tmp_path / "shared_triples")

    run_kg(spark, batch_a, str(tmp_path / "batch_a"), n_parts=PARTS,
           upsert=True, triples_path=shared)
    merged = run_kg(spark, batch_b, str(tmp_path / "batch_b"), n_parts=PARTS,
                    upsert=True, triples_path=shared)

    # reference: the same two batches built independently, merged in pandas
    ta = run_kg(spark, batch_a, str(tmp_path / "ref_a"), n_parts=PARTS)
    tb = run_kg(spark, batch_b, str(tmp_path / "ref_b"), n_parts=PARTS)
    expect = {(r.subj, r.pred, r.obj): r.repo for r in ta.collect()}
    for r in tb.collect():
        k = (r.subj, r.pred, r.obj)
        expect[k] = min(expect[k], r.repo) if k in expect else r.repo

    got = {(r.subj, r.pred, r.obj): r.repo for r in merged.collect()}
    assert got == expect
    assert _triple_set(merged) == _triple_set(ta) | _triple_set(tb)


def test_mention_id_audit_detects_collision(spark):
    import pytest
    from kgforge.pipeline import audit_mention_ids

    base = spark.createDataFrame(
        [
            ("r1", "a.py", "c1", "PRICE", "100", 0, 1, 11),
            ("r1", "b.py", "c1", "PRICE", "200", 0, 1, 22),
        ],
        "repo string, path string, commit string, entity_type string, "
        "surface string, start int, end int, mention_id long",
    )
    assert audit_mention_ids(base) == (2, 2)
    collided = base.withColumn("mention_id", F.lit(7).cast("long"))
    with pytest.raises(RuntimeError, match="collision"):
        audit_mention_ids(collided)


def test_entity_salience_deterministic_and_canonical(spark, outdir):
    """PageRank entity salience over the co-mention graph: two evaluations
    on the same mention table are row-identical (integer ranks, total
    tie-break order), every entity key is a canonical '<TYPE>:<surface>'
    form, and degrees are positive."""
    from kgforge.pipeline import entity_salience

    run_kg(spark, synth_source_files(spark, 150), outdir, n_parts=4)
    p = _paths(outdir)
    a = entity_salience(spark, p, n_top=20).collect()
    b = entity_salience(spark, p, n_top=20).collect()
    assert a == b
    assert 0 < len(a) <= 20
    ranks = [r.rank_scaled for r in a]
    assert ranks == sorted(ranks, reverse=True)
    for r in a:
        assert ":" in r.entity and r.degree >= 1 and r.rank_scaled > 0


def test_read_path_raises_without_a_current_canon_map(spark, outdir):
    """run_graph commits the canonicalization decision as <out>/canon_map
    and the read path only reads it. With mention partitions committed
    after the last graph build (stale), or with the map deleted (missing),
    entity_salience and related_entities raise: they never re-link and
    write no canon_map."""
    import os
    import re

    from pyspark.errors import AnalysisException

    from kgforge.extract import with_clean
    from kgforge.materialize import with_part_id
    from kgforge.pipeline import entity_salience, related_entities

    src = synth_source_files(spark, 150)
    paths = _paths(outdir)
    cmap_dir = f"{outdir}/canon_map"
    reads = (
        lambda: entity_salience(spark, paths, n_top=5),
        lambda: related_entities(spark, paths, seeds=["PRODUCT:ጫማ"]),
    )
    early = with_part_id(with_clean(src), ["repo", "path"], 4).filter(
        F.col("part_id") < 2
    ).select(*src.columns)
    run_kg(spark, early, outdir, n_parts=4)
    cmap = spark.read.parquet(cmap_dir)
    assert set(cmap.columns) == {"entity_type", "norm_surface", "canon_surface"}
    assert cmap.count() > 0
    committed = _parquet_content_hashes(cmap_dir)

    # stale: the rest of the files extracted, graph phase not re-run
    run_extraction(spark, src, paths, n_parts=4)
    for read in reads:
        with pytest.raises(RuntimeError, match=re.escape(paths.mentions)):
            read()
    assert _parquet_content_hashes(cmap_dir) == committed

    # missing: the current mention state is built, then its map deleted
    run_graph(spark, paths, n_parts=4)
    shutil.rmtree(cmap_dir)
    for read in reads:
        with pytest.raises(AnalysisException):
            read()
    assert not os.path.exists(cmap_dir)


def test_surface_cache_released_when_linking_fails(spark, outdir, monkeypatch):
    """build_canon_map releases its surface cache even when the build
    fails between the persist and the canon-map write."""
    from kgforge import link

    def failing_linker(*args, **kwargs):
        raise RuntimeError("linker failed")

    monkeypatch.setattr(link, "typed_link_surfaces", failing_linker)
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(RuntimeError, match="linker failed"):
        run_kg(spark, synth_source_files(spark, 60), outdir, n_parts=4)
    assert cache.isEmpty()


def test_linked_surfaces_share_one_entity_end_to_end(spark, outdir):
    """A build whose linker finds an edge: "2,500 ብር" and "2500 ብር" are
    one PRICE entity in the canon map, in the triples of both repos that
    mention it, and as a related_entities seed."""
    from kgforge.pipeline import related_entities

    rows = [
        ("r1", "a.txt", "c1", "amh_text", "ዋጋ 2,500 ብር\nሽያጭ ጫማ"),
        ("r2", "b.txt", "c2", "amh_text", "ዋጋ 2500 ብር\nግዢ ቦርሳ"),
    ]
    src = spark.createDataFrame(rows, "repo string, path string, "
                                "commit string, lang string, content string")
    triples = run_kg(spark, src, outdir, n_parts=4)

    prices = {
        r.norm_surface: r.canon_surface
        for r in spark.read.parquet(f"{outdir}/canon_map")
        .filter(F.col("entity_type") == "PRICE").collect()
    }
    assert set(prices) == {"2,500 ብር", "2500 ብር"}
    assert len(set(prices.values())) == 1
    entity = "PRICE:" + prices["2500 ብር"]
    declared = {
        r.subj for r in triples.filter(
            (F.col("pred") == PRED_DECLARES) & (F.col("obj") == entity)
        ).collect()
    }
    assert declared == {"r1", "r2"}

    related = related_entities(
        spark, _paths(outdir), seeds=["PRICE:2500 ብር"]
    ).collect()
    assert [r.entity for r in related if r.is_seed] == [entity]


def test_related_entities_seed_resolution_and_determinism(spark, outdir):
    """Personalized-PageRank related entities (run_kg --related): seeds
    resolve through the canon_map (any alias of an entity works), the
    seed rows carry is_seed=True, every rank is a positive scaled
    integer with a total order, and two evaluations are row-identical.
    Non-seed neighbors must outrank distant nodes only via real teleport
    mass — with every seed unresolvable the result is empty, not
    uniform-PageRank fallback."""
    from kgforge.pipeline import entity_salience, related_entities

    run_kg(spark, synth_source_files(spark, 150), outdir, n_parts=4)
    p = _paths(outdir)
    # pick a real canonical entity from the salience ranking as the seed
    top = entity_salience(spark, p, n_top=1).collect()[0].entity
    a = related_entities(spark, p, seeds=[top], n_top=15).collect()
    b = related_entities(spark, p, seeds=[top], n_top=15).collect()
    assert a == b
    assert 0 < len(a) <= 15
    seeds = [r for r in a if r.is_seed]
    assert [r.entity for r in seeds] == [top]
    ranks = [r.rank_scaled for r in a]
    assert ranks == sorted(ranks, reverse=True) and min(ranks) >= 0
    # teleport mass concentrates on the seed: it must rank first
    assert a[0].entity == top
    # alias form resolves through canon_map normalization (upper + spaces)
    etype, surface = top.split(":", 1)
    alias = f"{etype}:  {surface.upper()}  "
    via_alias = related_entities(spark, p, seeds=[alias], n_top=15).collect()
    assert via_alias == a
    # unresolvable seed -> empty, never a silent uniform fallback
    none = related_entities(
        spark, p, seeds=["PRODUCT:does-not-exist-xyz"], n_top=15
    ).collect()
    assert none == []


def test_program_releases_its_caches(spark, outdir):
    """Every relation run_kg and entity_salience persist is released by the
    program itself: the session's CacheManager is empty after each, with
    no clearCache() anywhere."""
    from kgforge.pipeline import entity_salience

    cache = spark._jsparkSession.sharedState().cacheManager()
    run_kg(spark, synth_source_files(spark, 60), outdir, n_parts=4)
    assert cache.isEmpty()
    entity_salience(spark, _paths(outdir), n_top=5).collect()
    assert cache.isEmpty()


def test_corrupt_lineage_raises_instead_of_rebuilding(spark, outdir):
    """Only a missing lineage table means "nothing committed". A corrupt
    one must raise: run_kg must not silently re-extract every partition,
    and entity_salience must not silently rebuild the canon map."""
    import os

    from py4j.protocol import Py4JJavaError

    from kgforge.pipeline import entity_salience

    src = synth_source_files(spark, 60)
    run_kg(spark, src, outdir, n_parts=4)
    paths = _paths(outdir)
    mention_files = sorted(os.walk(paths.mentions))
    for f in os.listdir(paths.lineage):
        if f.endswith(".parquet"):
            with open(os.path.join(paths.lineage, f), "wb") as fh:
                fh.write(b"not a parquet file" * 8)

    with pytest.raises(Py4JJavaError):
        run_kg(spark, src, outdir, n_parts=4)
    assert sorted(os.walk(paths.mentions)) == mention_files  # nothing rewritten
    with pytest.raises(Py4JJavaError):
        entity_salience(spark, paths, n_top=5).collect()


@pytest.mark.parametrize("missing", ["stage", "part_id", "fingerprint"])
def test_lineage_missing_a_column_raises(spark, outdir, missing):
    """Lineage is read with the declared LINEAGE schema, which reads a
    column the files lack as NULL. A lineage table written without one of
    the key columns must raise, naming its path, in both readers of
    committed lineage, not read as "nothing committed"."""
    import re

    from kgforge.materialize import read_parquet_if_exists
    from kgforge.pipeline import _graph_input_state
    from kgforge.schemas import LINEAGE

    paths = _paths(outdir)
    assert read_parquet_if_exists(spark, paths.lineage, LINEAGE) is None
    spark.createDataFrame(
        [(STAGE_MENTIONS, 0, 5, "0" * 16, 1)], LINEAGE
    ).drop(missing).write.parquet(paths.lineage)

    with pytest.raises(RuntimeError, match=re.escape(paths.lineage)):
        lin.completed_parts(spark, paths.lineage, STAGE_MENTIONS)
    with pytest.raises(RuntimeError, match=re.escape(paths.lineage)):
        _graph_input_state(spark, paths)


def test_declared_schemas_match_what_spark_infers(spark, outdir):
    """Each table's declared schema (the one its read-backs use instead of
    inference) is the schema Spark infers for it after a build: the same
    column names, order and types."""
    from kgforge.schemas import CANON_MAP, LINEAGE, MENTION_TABLE, TRIPLE_TABLE

    run_kg(spark, synth_source_files(spark, 60), outdir, n_parts=4)
    for table, declared in (
        ("mentions", MENTION_TABLE),
        ("canon_map", CANON_MAP),
        ("triples", TRIPLE_TABLE),
        ("lineage", LINEAGE),
    ):
        inferred = spark.read.parquet(f"{outdir}/{table}").schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ], table


# Job counts of the build and the resume re-run below in the test session
# (local[4], 8 shuffle partitions), as upper bounds: a change that adds
# jobs to run_kg must raise them on purpose. Both are the largest count
# seen over 20 repeated runs: the build measured 35, the resume 4
# (adaptive execution may submit some query stages as jobs depending on
# timing). They were 39 and 6 while the lineage reads and the read-backs
# of the tables run_kg had just written each ran a schema-inference job.
TINY_BUILD_JOBS = 35
TINY_RESUME_JOBS = 4


def test_run_kg_jobs_are_grouped_and_bounded(spark, tmp_path):
    """Every job of a tiny run_kg and of its identical re-run runs in the
    caller's job group: none comes from a thread without it, which
    cancelJobGroup and job-group attribution would miss. Each call runs
    no more jobs than the pinned counts."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()  # job events reach the tracker async
    src = synth_source_files(spark, 60)
    run_kg(spark, src, str(tmp_path / "warm"), n_parts=4)  # JVM warm-up

    def jobs(group: str) -> int:
        bus.waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            run_kg(spark, src, str(tmp_path / "kg"), n_parts=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
        return len(tracker.getJobIdsForGroup(group))

    assert jobs("test-run-kg-build") <= TINY_BUILD_JOBS
    assert jobs("test-run-kg-resume") <= TINY_RESUME_JOBS


# Job count of one related_entities call on the tiny KG below, in the test
# session (local[4], 8 shuffle partitions), as an upper bound: every one of
# 20 repeated calls ran 20 jobs (21 while the lineage read ran a
# schema-inference job; 34 before the PageRank loop's joins were kept on
# the edge cache's layout and the seed flag carried through the
# checkpoint). The mention and canon-map reads keep inference on purpose:
# it detects a table an earlier call or version wrote with other columns.
TINY_QUERY_JOBS = 20


def test_related_entities_jobs_are_grouped_and_bounded(spark, tmp_path):
    """Every job of a related_entities query runs in the caller's job
    group, and one query runs no more jobs than the pinned count."""
    from kgforge.pipeline import entity_salience, related_entities

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()  # job events reach the tracker async
    outdir = str(tmp_path / "kg")
    run_kg(spark, synth_source_files(spark, 60), outdir, n_parts=4)
    p = _paths(outdir)
    seed = entity_salience(spark, p, n_top=1).collect()[0].entity
    warm = related_entities(spark, p, seeds=[seed], n_top=5).collect()

    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("test-related-entities", "test-related-entities")
    try:
        rows = related_entities(spark, p, seeds=[seed], n_top=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert rows == warm
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("test-related-entities")) <= TINY_QUERY_JOBS
