"""Extraction: regex Catalyst path + model path P/R gate vs frozen oracle."""

from __future__ import annotations

from kgforge import oracle
from kgforge.extract import extract_mentions, regex_entities, with_clean
from kgforge.synth import synth_rows, synth_source_files

N = 400


def test_regex_entities_matches_reference_semantics(spark):
    df = spark.createDataFrame(
        [
            ("ዋጋ 2,500 ብር ይደውሉ 0911223344 ሽያጭ ጫማ ጥሩ",),
            ("no entities here",),
            ("",),
        ],
        "clean_content string",
    )
    rows = regex_entities(df).collect()
    assert rows[0].prices == ["2,500"]
    assert rows[0].phones == ["0911223344"]
    assert rows[0].products == ["ጫማ ጥሩ"]
    assert rows[0].has_price and rows[0].has_phone and rows[0].has_product
    assert rows[1].prices == [] and not rows[1].has_price
    assert rows[2].products == []


def test_model_path_pr_gate(spark):
    """The BASELINE.md P/R >= 0.95 gate: Spark pipeline vs frozen oracle."""
    df = with_clean(synth_source_files(spark, N))
    mentions = extract_mentions(df)
    pred = {
        (r.repo, r.path, r.commit, r.entity_type, r.start, r.end, r.surface)
        for r in mentions.collect()
    }
    golden = oracle.reference_mentions_for_rows(synth_rows(N))
    p, r, f1 = oracle.span_prf(golden, pred)
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"


def test_mentions_deterministic_across_parallelism(spark):
    def run(parts):
        df = with_clean(synth_source_files(spark, 150, partitions=parts))
        return sorted(
            (r.repo, r.path, r.entity_type, r.start, r.end, r.surface)
            for r in extract_mentions(df).collect()
        )

    assert run(2) == run(12)


def test_regex_entities_fully_codegen(spark):
    """The Catalyst slice must stay JVM-side: no BatchEvalPython/ArrowEval
    in the plan (UDFs are the slow path — SURVEY.md §2.11)."""
    df = with_clean(synth_source_files(spark, 10))
    plan = regex_entities(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
