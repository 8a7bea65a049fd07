"""End-to-end KG construction job (north rule orchestration).

Two phases, mirroring where resume matters at 10^12-file scale:

Phase 1 — **extraction** (embarrassingly parallel, no shuffle, resumable
per partition): source_files -> clean -> batched mention extraction ->
mention table partitioned by pmod(xxhash64(repo, path), N) with lineage
rows. A killed run resumes by skipping the part_ids committed lineage
records; every step is deterministic so the resumed table is
fingerprint-identical.

Phase 2 — **graph** (global): mention linking (MinHash-LSH blocks +
token-sort scoring) -> iterative connected components -> canonical
surfaces -> (subj, pred, obj) triples -> global dedup -> partitioned
materialize + graph lineage.

Entry point for spark-submit: ``python -m kgforge.jobs.run_kg``.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import canon, link, lineage, materialize
from kgforge.extract import extract_mentions, with_clean, with_norm_surface
from kgforge.schemas import CANON_MAP, MENTION_TABLE, TRIPLE_TABLE
from kgforge.triples import mentions_to_triples

STAGE_MENTIONS = "mentions"
STAGE_TRIPLES = "triples"

MENTION_CONTENT_COLS = [
    "repo", "path", "commit", "entity_type", "surface", "start", "end",
]
TRIPLE_CONTENT_COLS = ["subj", "pred", "obj"]


@dataclass
class KGPaths:
    mentions: str
    triples: str
    lineage: str


def mention_id_expr() -> F.Column:
    """Deterministic mention id (never monotonically_increasing_id — must be
    identical at any parallelism, SURVEY.md §7.4 risk 5).

    64-bit, so the birthday bound bites around ~4.3e9 distinct mentions
    (ADVICE r1). Kept 64-bit deliberately — the id is the CC vertex / join
    key and doubling its width doubles every graph-phase shuffle — but
    guarded: ``audit_mention_ids`` verifies distinct(content) ==
    distinct(id) on every committed partition set and aborts on collision;
    at >1e9-mention scale, partition the graph phase by entity_type (ids
    only need uniqueness within a CC domain) before reaching the bound.
    """
    return F.xxhash64("repo", "path", "commit", "entity_type", "surface", "start", "end")


def audit_mention_ids(mentions: DataFrame) -> tuple[int, int]:
    """Collision audit (ADVICE r1): #distinct content tuples must equal
    #distinct mention_ids. Two hash-agg passes, no driver data transfer;
    raises on any silent id merge."""
    row = mentions.agg(
        F.count_distinct(F.struct(*MENTION_CONTENT_COLS)).alias("n_tuples"),
        F.count_distinct(F.col("mention_id")).alias("n_ids"),
    ).first()
    if row["n_tuples"] != row["n_ids"]:
        raise RuntimeError(
            f"mention_id collision: {row['n_tuples']} distinct content "
            f"tuples -> {row['n_ids']} distinct ids"
        )
    return row["n_tuples"], row["n_ids"]


def run_extraction(
    spark: SparkSession,
    source_files: DataFrame,
    paths: KGPaths,
    n_parts: int = materialize.DEFAULT_PARTS,
    resume: bool = True,
) -> None:
    """Phase 1: source_files -> partitioned mention table + lineage."""
    t0 = time.perf_counter()
    files = materialize.with_part_id(
        with_clean(source_files), ["repo", "path"], n_parts
    )
    if resume:
        done = lineage.completed_parts(spark, paths.lineage, STAGE_MENTIONS)
        files = lineage.filter_pending(files, done)
    # Partition universe BEFORE extraction: a partition with zero mentions
    # still gets a lineage row (FIXTURES.md §6 edge case). Collected once —
    # it is at most n_parts ints — and reused for partition-pruned read-back.
    part_ids = [
        r.part_id for r in files.select("part_id").distinct().collect()
    ]
    if not part_ids:
        return  # everything already committed

    mentions = extract_mentions(files)
    mentions = materialize.with_part_id(mentions, ["repo", "path"], n_parts)
    mentions = with_norm_surface(mentions).withColumn("mention_id", mention_id_expr())

    materialize.write_partitioned(mentions, paths.mentions)

    # read back ONLY the partitions this run wrote (partition pruning on the
    # part_id directory column — no full-table scan on resume), with the
    # declared schema: this call just wrote them, so no inference job
    written = spark.read.schema(MENTION_TABLE).parquet(paths.mentions).filter(
        F.col("part_id").isin(part_ids)
    )
    audit_mention_ids(written)  # raises on collision BEFORE any lineage append
    rows = lineage.lineage_rows(
        written, STAGE_MENTIONS, MENTION_CONTENT_COLS
    ).collect()
    # zero-mention partitions get a count-0 row
    empty = set(part_ids) - {r.part_id for r in rows}
    rows += [(STAGE_MENTIONS, p, 0, "0" * 16) for p in sorted(empty)]
    lineage.append_rows(spark, rows, t0, paths.lineage)


STAGE_GRAPH_INPUT = "graph_input"


def _graph_input_state(spark: SparkSession, paths: KGPaths) -> tuple[str, bool]:
    """``(input_fp, built)`` from one collect of lineage. ``input_fp`` is
    sha256 over the sorted (part_id, fingerprint) pairs of committed mention
    partitions; ``built`` is true iff lineage records a graph build from
    exactly that state. A missing lineage table means no build; a row with
    a NULL key column (``lineage.committed_rows``) or any other read
    failure raises."""
    rows = lineage.committed_rows(
        spark, paths.lineage, [STAGE_MENTIONS, STAGE_GRAPH_INPUT]
    )
    mention_fps = sorted(
        (r.part_id, r.fingerprint) for r in rows if r.stage == STAGE_MENTIONS
    )
    blob = ";".join(f"{p}:{fp}" for p, fp in mention_fps)
    input_fp = hashlib.sha256(blob.encode()).hexdigest()[:16]
    built = any(
        r.stage == STAGE_GRAPH_INPUT and r.fingerprint == input_fp for r in rows
    )
    return input_fp, built


def _canon_map_path(paths: KGPaths) -> str:
    """The canon-map artifact lives beside the mention table (the batch's
    work dir), since it is derived from exactly that mention state."""
    return paths.mentions.rstrip("/").rsplit("/", 1)[0] + "/canon_map"


def build_canon_map(mentions: DataFrame, path: str) -> None:
    """Distinct surface forms -> canonical surface, via typed MinHash-LSH
    linking + connected components, written to ``path``. The one place the
    canonicalization decision is made: run_graph commits it, and the
    triple table and the read path (entity_salience, related_entities)
    read that committed map, so all agree on entity boundaries. Runs over
    DISTINCT (entity_type, norm_surface) — see run_graph's scale note."""
    # Persist the distinct-surface relation: it is referenced by the
    # linker (numeric + textual branches), the CC vertex-labelling join
    # and canonical_surfaces' join, so without the cache the full
    # mention-table aggregation would re-run ~4x per graph build (guide §5
    # "worth it when a DataFrame is reused"). Small by construction
    # (distinct (type, surface) forms, not mentions).
    surfaces = (
        mentions.groupBy("entity_type", "norm_surface")
        .agg(F.min("mention_id").alias("mention_id"))
        .select("mention_id", "entity_type", "norm_surface")
        .persist()
    )
    try:
        edges = link.typed_link_surfaces(surfaces)
        assign = canon.connected_components(surfaces.select("mention_id"), edges)
        canon.canonical_surfaces(assign, surfaces).select(
            "entity_type", "norm_surface", "canon_surface"
        ).write.mode("overwrite").parquet(path)
    finally:
        surfaces.unpersist()


def entity_salience(
    spark: SparkSession,
    paths: KGPaths,
    iters: int = 4,
    n_top: int = 100,
) -> DataFrame:
    """Canonical-entity salience: scaled-integer PageRank over the entity
    co-mention graph (kgforge/graph.py::pagerank_scaled).

    Vertices are canonical entities (post-linking, post-CC, the same
    canon_map the triple table uses); an undirected edge joins two entities
    mentioned in the same document. Deterministic: integer ranks, ties
    broken by entity key, so the ranking is bit-identical at any
    parallelism.

    Scale shape: the doc->entity edge build is one distinct + one
    co-partitioned self-equi-join on the doc key (bounded entities per
    document, so the self-join is linear in mentions); PageRank is
    iters x (equi-join + partial-agg shuffle). Nothing driver-side but the
    node count.
    """
    from kgforge.graph import pagerank_scaled

    pairs, _ = _entity_comention_pairs(spark, paths)
    r = pagerank_scaled(pairs, iters=iters)
    return (
        r.select(
            F.col("node").alias("entity"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "entity")
        .limit(n_top)
    )


def _entity_comention_pairs(spark, paths: KGPaths):
    """(pairs, canon_map): distinct undirected co-mention edges between
    canonical entities — the shared graph both entity_salience (global
    PageRank) and related_entities (personalized PageRank) rank over.
    One distinct + one co-partitioned self-equi-join on the doc key
    (bounded entities per document, so the self-join is linear in
    mentions).

    ``canon_map`` is the one run_graph committed. The read path never
    links: a map not built from the current mention state (same
    fingerprint discipline as the graph phase's resume short-circuit)
    raises, and so does reading a missing one."""
    from kgforge.triples import entity_key

    if not _graph_input_state(spark, paths)[1]:
        raise RuntimeError(
            f"no committed canon map for the mention table at {paths.mentions}:"
            " run the graph phase (run_graph / run_kg) first"
        )
    mentions = spark.read.parquet(paths.mentions)
    canon_map = spark.read.parquet(_canon_map_path(paths))
    doc_ent = (
        mentions.join(canon_map, ["entity_type", "norm_surface"])
        .select(
            F.concat_ws("\x1f", "repo", "path", "commit").alias("doc"),
            entity_key(F.col("entity_type"), F.col("canon_surface")).alias(
                "entity"
            ),
        )
        .distinct()
    )
    a, b = doc_ent.alias("a"), doc_ent.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc") == F.col("b.doc"))
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .select(F.col("a.entity").alias("p1"), F.col("b.entity").alias("p2"))
        .distinct()
    )
    return pairs, canon_map


def related_entities(
    spark: SparkSession,
    paths: KGPaths,
    seeds: list[str],
    iters: int = 4,
    n_top: int = 25,
) -> DataFrame:
    """Seed-relative entity ranking: personalized PageRank over the same
    canonical co-mention graph entity_salience uses, with teleport mass
    returning to the SEED entities — "what is most related to these
    entities in this KG", the query a KG consumer actually asks
    (kgforge/graph.py::personalized_pagerank_scaled; its ranks equal the
    bit-exact Python mirror in tests/test_graph.py).

    ``seeds`` are '<TYPE>:<surface>' strings. Each surface is normalized
    exactly like mention surfaces (lower + whitespace collapse) and
    resolved THROUGH the canon_map, so any alias of an entity works as a
    seed — the same entity-boundary decision the triple table made.
    Unresolvable seeds are ignored; no resolvable seed -> empty result.

    Returns [entity, degree, rank_scaled, is_seed], rank-descending with
    a total tie-break, deterministic at any parallelism (scaled-integer
    arithmetic end to end). is_seed is the seed flag PageRank carries
    through its checkpoint, so the top ``n_top`` come from that one
    relation with no second join against the seeds.

    Reads one batch: the graph is built from ``paths.mentions`` and the
    canon map beside it. Over an incremental KG (``run_kg(upsert=True,
    triples_path=shared)``) that is the batch whose paths are given, not
    the shared triple table, so entities mentioned only in other batches
    are absent (ROADMAP item 3).
    """
    from kgforge.graph import personalized_pagerank_scaled
    from kgforge.triples import entity_key

    pairs, canon_map = _entity_comention_pairs(spark, paths)
    # an Arrow local relation: no Python tasks for a driver-side list
    raw = spark.createDataFrame(pa.table({"raw": pa.array(seeds, pa.string())}))
    parsed = raw.select(
        F.substring_index("raw", ":", 1).alias("entity_type"),
        F.trim(
            F.regexp_replace(
                F.lower(F.expr("substring(raw, instr(raw, ':') + 1)")),
                r"\s+",
                " ",
            )
        ).alias("norm_surface"),
    )
    seed_nodes = (
        parsed.join(canon_map, ["entity_type", "norm_surface"])
        .select(
            entity_key(F.col("entity_type"), F.col("canon_surface")).alias(
                "node"
            )
        )
        .distinct()
    )
    r = personalized_pagerank_scaled(pairs, seed_nodes, iters=iters)
    return (
        r.select(
            F.col("node").alias("entity"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_scaled"),
            (F.col("is_src") == 1).alias("is_seed"),
        )
        .orderBy(F.col("rank_scaled").desc(), "entity")
        .limit(n_top)
    )


def run_graph(
    spark: SparkSession,
    paths: KGPaths,
    n_parts: int = materialize.DEFAULT_PARTS,
    resume: bool = True,
    upsert: bool = False,
) -> DataFrame:
    """Phase 2: mentions -> linked/canonicalized deduplicated triple table.

    Scale-critical design point: linking and connected components run over
    DISTINCT (entity_type, norm_surface) forms, never mention instances.
    A hot surface appearing in 10^9 mentions is one vertex, not 10^9 —
    identical-surface pairs would otherwise blow up quadratically (observed:
    8.7k mentions -> 1.6M edges before this collapse; ~2k after). Mentions
    re-attach to their canonical surface by an equi-join on the surface key
    at the end (AQE skew-join handles hot surface keys).
    """
    t0 = time.perf_counter()
    input_fp, built = _graph_input_state(spark, paths)
    # short-circuit: if the graph was already built from EXACTLY this
    # mention-table state, the committed triple table is current.
    if resume and built:
        return spark.read.parquet(paths.triples)

    mentions = spark.read.parquet(paths.mentions)
    # The canonicalization decision is itself an artifact: committed so
    # (a) entity resolution is auditable after the fact and (b) the read
    # path (entity_salience, related_entities) reads it instead of
    # re-running LSH + CC over the full mention table — at 100 TB the
    # linking pass dwarfs the map's size (distinct surfaces only). Reading
    # it back also means the triple join consumes the committed artifact,
    # not a recomputation. Both read-backs below use the declared schema of
    # a table this call has just written: no schema-inference job.
    build_canon_map(mentions, _canon_map_path(paths))
    canon_map = spark.read.schema(CANON_MAP).parquet(_canon_map_path(paths))

    canonical = mentions.join(canon_map, ["entity_type", "norm_surface"])
    triples = mentions_to_triples(canonical, surface_col="canon_surface")
    triples = materialize.with_part_id(triples, ["subj", "pred", "obj"], n_parts)

    if upsert:
        # CDC mode (VERDICT r4 #7): MERGE this batch's triples into an
        # existing triple table instead of overwriting it — incremental
        # ingestion of a new file batch. repo merges via least() so the
        # min-provenance invariant survives any batch arrival order and
        # re-merging the same batch is a no-op.
        materialize.upsert_partitioned(
            triples, paths.triples, ["subj", "pred", "obj"],
            n_parts=n_parts, resolve={"repo": F.least},
        )
    else:
        materialize.write_partitioned(triples, paths.triples)
    written = spark.read.schema(TRIPLE_TABLE).parquet(paths.triples)
    rows = lineage.lineage_rows(
        written, STAGE_TRIPLES, TRIPLE_CONTENT_COLS
    ).collect()
    rows.append((STAGE_GRAPH_INPUT, -1, 0, input_fp))
    lineage.append_rows(spark, rows, t0, paths.lineage)
    return written


def run_kg(
    spark: SparkSession,
    source_files: DataFrame,
    out_dir: str,
    n_parts: int = materialize.DEFAULT_PARTS,
    resume: bool = True,
    upsert: bool = False,
    triples_path: str | None = None,
) -> DataFrame:
    """Full pipeline; returns the materialized triple table.

    CDC mode: ``upsert=True`` MERGEs this run's triples into the existing
    table instead of overwriting; ``triples_path`` points batches at a
    SHARED triple table while each batch keeps its own mentions/lineage
    under its ``out_dir`` (the incremental-ingestion layout: per-batch
    work dirs, one long-lived graph table). Only the triples are shared:
    each batch links and canonicalizes its own mentions, and
    entity_salience/related_entities over a batch's paths see that batch
    only (ROADMAP item 3)."""
    paths = KGPaths(
        mentions=f"{out_dir}/mentions",
        triples=triples_path or f"{out_dir}/triples",
        lineage=f"{out_dir}/lineage",
    )
    run_extraction(spark, source_files, paths, n_parts, resume)
    return run_graph(spark, paths, n_parts, resume=resume, upsert=upsert)
