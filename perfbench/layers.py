"""Which kgforge functions the traced run wraps, and the boundary counts.

The wrapped names are the ones ``pipeline.run_kg`` and
``pipeline.related_entities`` look up at call time, so the real entry
points run with a span around every layer call:

    extract      pipeline.extract_mentions (clean, NER model and BIO repair
                 run in its one fused mapInPandas pass)
    materialize  materialize.write_partitioned
    lineage      lineage.lineage_rows, pipeline.audit_mention_ids,
                 lineage.append_lineage
    link         link.typed_link_surfaces > minhash_blocks, candidate_pairs,
                 score_edges
    canon        canon.connected_components, canon.canonical_surfaces
    triples      pipeline.mentions_to_triples
    graph        graph.personalized_pagerank_scaled, split into the
                 co-mention pair build (its input) and the PageRank itself
    pipeline     the entry point's own span: orchestration, driver-side
                 collects and every job no layer span claims
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from spans import Tracer, length, minus


def _count_extract(tr: Tracer, args, kwargs, out) -> None:
    tr.add("extract.files", args[0].count())
    tr.add("extract.mentions", out.count())


def _count_files(tr: Tracer, args, kwargs, out) -> None:
    path = Path(args[1] if len(args) > 1 else kwargs["path"])
    tr.add("materialize.files_written", sum(1 for _ in path.rglob("part-*")))


def _count_blocks(tr: Tracer, args, kwargs, out) -> None:
    sizes = out.groupBy("entity_type", "band", "sig").count()
    tr.peak("link.max_block", sizes.agg(F.max("count")).first()[0] or 0)


def _count_link(tr: Tracer, args, kwargs, out) -> None:
    tr.add("link.surfaces", args[0].count())
    tr.add("link.edges", out.count())


def _count_cc(tr: Tracer, args, kwargs, out) -> None:
    edges = args[1]
    ends = edges.select(F.col("src").alias("v")).union(edges.select(F.col("dst").alias("v")))
    tr.add("canon.active_vertices", ends.distinct().count())
    tr.add("canon.components", out.select("component_id").distinct().count())
    tr.add("canon.cc_calls", 1)


def _count_triples(tr: Tracer, args, kwargs, out) -> None:
    # one declares_entity and one has_attribute row per canonical mention
    tr.add("triples.emitted", 2 * args[0].count())
    tr.add("triples.distinct", out.count())


def install_build(tr: Tracer) -> None:
    from kgforge import canon, lineage, link, materialize, pipeline

    tr.wrap(pipeline, "extract_mentions", "extract", materialize=True, after=_count_extract)
    tr.wrap(materialize, "write_partitioned", "materialize", after=_count_files)
    tr.wrap(lineage, "lineage_rows", "lineage", materialize=True)
    tr.wrap(pipeline, "audit_mention_ids", "lineage")
    tr.wrap(lineage, "append_lineage", "lineage")
    tr.wrap(link, "typed_link_surfaces", "link", materialize=True, after=_count_link)
    tr.wrap(link, "minhash_blocks", "link", after=_count_blocks)
    tr.wrap(link, "candidate_pairs", "link", materialize=True,
            after=lambda t, a, k, o: t.add("link.candidate_pairs", o.count()))
    tr.wrap(link, "score_edges", "link", materialize=True,
            after=lambda t, a, k, o: t.add("link.scored_edges", o.count()))
    tr.wrap(canon, "connected_components", "canon", materialize=True, after=_count_cc)
    tr.wrap(canon, "canonical_surfaces", "canon", materialize=True)
    tr.wrap(pipeline, "mentions_to_triples", "triples", materialize=True, after=_count_triples)

    # connected_components truncates lineage once for the symmetric edge
    # list, once for the initial assignment and once per round, through
    # this module-level helper: counting calls counts rounds
    def counting(real):
        def truncate(*args, **kwargs):
            tr.add("canon.truncations", 1)
            return real(*args, **kwargs)
        return truncate

    tr.replace(canon, "_truncate", counting)


def install_query(tr: Tracer) -> None:
    from kgforge import graph

    def split(real):
        def ppr(pairs, sources, *args, **kwargs):
            with tr.span("graph", "comention_pairs"):
                pairs = pairs.localCheckpoint(eager=True)
            with tr.probe():
                tr.add("graph.edges", pairs.count())
            with tr.span("graph", "personalized_pagerank"):
                out = real(pairs, sources, *args, **kwargs)
            with tr.probe():
                tr.add("graph.nodes", out.count())
            return out
        return ppr

    tr.replace(graph, "personalized_pagerank_scaled", split)


def _label_wall(tr: Tracer, label: str) -> float:
    iv = [(s["t0"], s["t1"]) for s in tr.spans if s["label"] == label and s["t1"]]
    return length(minus(iv, tr.probes))


def boundary_metrics(tr: Tracer) -> dict[str, float]:
    """Counts taken at layer boundaries, and the ratios built on them.
    Layers the workload does not run report 0."""
    c = tr.counts
    extract_wall = _label_wall(tr, "extract_mentions")
    out = {
        name: c.get(name, 0)
        for name in (
            "extract.files", "extract.mentions", "materialize.files_written",
            "link.surfaces", "link.candidate_pairs", "link.edges", "link.max_block",
            "canon.active_vertices", "canon.components", "triples.emitted",
            "triples.distinct", "graph.nodes", "graph.edges",
        )
    }
    out["extract.files_per_s"] = c.get("extract.files", 0) / extract_wall if extract_wall else 0.0
    # scored edges over the pairs sent to the scorer (numeric surfaces are
    # linked by exact value and never become candidate pairs)
    pairs = c.get("link.candidate_pairs", 0)
    out["link.yield"] = c.get("link.scored_edges", 0) / pairs if pairs else 0.0
    out["canon.rounds"] = c.get("canon.truncations", 0) - 2 * c.get("canon.cc_calls", 0)
    emitted = c.get("triples.emitted", 0)
    out["triples.dedup_ratio"] = c.get("triples.distinct", 0) / emitted if emitted else 0.0
    out["graph.pairs_s"] = _label_wall(tr, "comention_pairs")
    out["graph.ppr_s"] = _label_wall(tr, "personalized_pagerank")
    return out
