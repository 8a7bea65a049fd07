"""Tokenized training rows (train_ner.py:252-303 analogue), model
comparison, and evaluation report — VERDICT r1 items 5-7."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.alignment import (
    IGNORE,
    align_labels,
    subword_input_ids,
    tokenized_training_rows,
    whitespace_word_ids,
)
from kgforge.schemas import TAG_TO_ID


def _sentences(spark, n_extra=0):
    data = [
        (1, ["ዋጋ", "2,500", "ብር"], ["O", "B-PRICE", "I-PRICE"]),
        (2, ["longword7", "x"], ["B-PRODUCT", "O"]),
        (3, ["a"], ["O"]),
    ] + [(10 + i, ["w", "z"], ["O", "O"]) for i in range(n_extra)]
    return spark.createDataFrame(
        data, "sent_id long, tokens array<string>, tags array<string>"
    )


def test_tokenized_rows_schema_and_alignment(spark):
    rows = tokenized_training_rows(_sentences(spark))
    assert [f.simpleString() for f in rows.schema.fields] == [
        "sent_id:bigint", "input_ids:array<int>", "labels:array<int>",
    ]
    got = {r.sent_id: r for r in rows.collect()}
    # sentence 2: [CLS] longword7(a) longword7(b) x [SEP]
    r2 = got[2]
    assert len(r2.input_ids) == 5 and len(r2.labels) == 5
    assert r2.labels[0] == IGNORE and r2.labels[-1] == IGNORE
    assert r2.labels[1] == TAG_TO_ID["B-PRODUCT"]
    # continuation subword of a B- word gets the I- id (align_labels rule)
    assert r2.labels[2] == TAG_TO_ID["I-PRODUCT"]
    assert r2.labels[3] == TAG_TO_ID["O"]
    # input ids: specials + in-vocab
    assert r2.input_ids[0] == 0 and r2.input_ids[-1] == 2
    assert all(3 <= i < 250_002 for i in r2.input_ids[1:-1])
    # exact python-twin parity for sentence 1
    wids = whitespace_word_ids(["ዋጋ", "2,500", "ብር"])
    assert got[1].labels == align_labels(wids, ["O", "B-PRICE", "I-PRICE"])
    assert got[1].input_ids == subword_input_ids(["ዋጋ", "2,500", "ብር"], wids)


def test_tokenized_rows_deterministic_across_parallelism(spark):
    s1 = _sentences(spark, 40).repartition(1)
    s13 = _sentences(spark, 40).repartition(13)
    a = {r.sent_id: (r.input_ids, r.labels) for r in tokenized_training_rows(s1).collect()}
    b = {r.sent_id: (r.input_ids, r.labels) for r in tokenized_training_rows(s13).collect()}
    assert a == b and len(a) == 43


def test_model_comparison_ranking(spark):
    """Repaired candidate must beat raw/degraded on F1; the weighted winner
    is deterministic and rank 1 is unique."""
    from kgforge.compare import compare_models
    from kgforge.jobs.run_interpret import golden_and_predicted

    golden, _ = golden_and_predicted(spark, None, 120)
    out = compare_models(spark, golden).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    by_name = {r.model: r for r in out}
    assert by_name["afroxlmr-large-sim"].f1 == 1.0  # repaired == golden
    assert by_name["distil-sim"].f1 < by_name["xlmr-base-sim"].f1 < 1.0
    # reruns identical
    again = compare_models(spark, golden).collect()
    assert [(r.model, r.weighted_score) for r in again] == [
        (r.model, r.weighted_score) for r in out
    ]


def test_eval_report_shape(spark):
    """Golden-file schema test for the interpret-analogue report."""
    from kgforge.jobs.run_interpret import golden_and_predicted
    from kgforge.report import build_report

    golden, predicted = golden_and_predicted(spark, None, 80)
    rep = build_report(golden, predicted, max_failure_cases=10)
    assert set(rep) == {"metadata", "metrics", "interpretability", "recommendations"}
    m = rep["metrics"]
    assert set(m) == {
        "eval_precision", "eval_recall", "eval_f1", "per_type",
        "num_samples", "average_length", "class_distribution",
    }
    assert m["num_samples"] == 80 and 0 < m["eval_f1"] < 1
    assert m["class_distribution"]["O"] > 0
    it = rep["interpretability"]
    assert it["failure_cases"] and len(it["failure_cases"]) <= 10
    case = it["failure_cases"][0]
    assert set(case) == {"sent_id", "pos", "token", "true_tag", "pred_tag", "context"}
    assert it["error_confusions"][0]["n"] >= it["error_confusions"][-1]["n"]
    assert any("error types" in r for r in rep["recommendations"])
    # feature importance: per-label ranked token table, shares sum <= 1
    labels = {r["entity_type"] for r in it["feature_importance"]}
    assert "PRICE" in labels
    for r in it["feature_importance"]:
        assert 0 < r["share"] <= 1 and r["rank"] >= 1


def test_recommendations_rank_by_true_f1():
    """Weakest classes sort by harmonic-mean F1, not 2*P*R (ADVICE r2):
    P=0.9/R=0.25 (F1 0.391) is WEAKER than P=0.5/R=0.4 (F1 0.444), but the
    old product key ranked them 0.45 > 0.40, the wrong way around."""
    from kgforge.report import recommendations

    per_type = [
        {"entity_type": "A", "precision": 0.5, "recall": 0.4},   # F1 0.444
        {"entity_type": "B", "precision": 0.9, "recall": 0.25},  # F1 0.391
        {"entity_type": "C", "precision": 0.0, "recall": 0.0},   # F1 0 (guard)
        {"entity_type": "D", "precision": 0.9, "recall": 0.9},   # F1 0.9
    ]
    recs = recommendations({"f1": 0.3}, per_type, [])
    line = recs[0]
    # weakest three by true F1: C (0) < B (0.391) < A (0.444); D excluded
    assert line.index("C (") < line.index("B (") < line.index("A (")
    assert "D (" not in line


# The reference's comparison-table shape (compare_model.py:430-440):
# model, f1, inference_ms, size_mb, train_min.
_CANDIDATES = [
    ("afroxlmr-large", 0.9231, 31.0, 2200.0, 96.0),
    ("xlmr-base", 0.9045, 17.0, 1100.0, 54.0),
    ("mbert-cased", 0.8712, 14.0, 680.0, 47.0),
    ("distil-mbert", 0.8423, 9.0, 540.0, 31.0),
    ("afro-xlmr-mini", 0.8120, 6.0, 290.0, 22.0),
]

_RANKING_SQL = """
WITH scored AS (
    SELECT model,
           round(0.5 * f1
               + 0.2 * (1 - inference_ms / max(inference_ms) OVER ())
               + 0.2 * (1 - size_mb / max(size_mb) OVER ())
               + 0.1 * (1 - train_min / max(train_min) OVER ()), 6)
             AS weighted_score
    FROM cand
)
SELECT model, weighted_score,
       row_number() OVER (ORDER BY weighted_score DESC, model) AS rank
FROM scored ORDER BY rank
"""


def test_weighted_ranking_matches_duckdb(spark, same_rows):
    """compare.weighted_ranking (0.5*F1 + 0.2*speed + 0.2*size + 0.1*time,
    each cost max-normalized over the candidate set) equals the DuckDB
    re-derivation: same row count, same columns, same value multiset
    (cells stringified, columns sorted by name)."""
    import duckdb

    from kgforge.compare import weighted_ranking

    cand = spark.createDataFrame(
        _CANDIDATES, "model string, f1 double, inference_ms double, "
        "size_mb double, train_min double",
    )
    ranked = weighted_ranking(cand).select(
        "model", "weighted_score", F.col("rank").cast("long").alias("rank")
    )
    got = ranked.collect()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cand(model VARCHAR, f1 DOUBLE, inference_ms DOUBLE, "
        "size_mb DOUBLE, train_min DOUBLE)"
    )
    con.executemany("INSERT INTO cand VALUES (?, ?, ?, ?, ?)", _CANDIDATES)
    cur = con.execute(_RANKING_SQL)
    want = cur.fetchall()
    want_cols = [d[0] for d in cur.description]

    assert len(got) == len(_CANDIDATES)
    same_rows(ranked.columns, got, want_cols, want)
