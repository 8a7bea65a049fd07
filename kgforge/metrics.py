"""Evaluation metrics as DataFrame jobs (SURVEY.md N9/N10, J5).

The reference evaluates with driver-side seqeval over collected arrays
(reference: src/modeling/train_ner.py:305-343, src/evaluation/
interpret.py:995-1065). kgforge computes span-level P/R/F1 as a distributed
span-match equi-join — exact (sent_id, start, end, type) matching — so the
evaluation itself scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.bio import decode_spans_udf


def spans_table(sentences: DataFrame, tags_col: str = "tags") -> DataFrame:
    """(sent_id, tokens, tags) -> one row per decoded span (N6 applied
    corpus-wide, exploded)."""
    return sentences.select(
        "sent_id",
        F.explode(
            decode_spans_udf(F.col("tokens"), F.col(tags_col))
        ).alias("span"),
    ).select(
        "sent_id",
        F.col("span.entity_type").alias("entity_type"),
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        F.col("span.surface").alias("surface"),
    )


def span_prf(golden: DataFrame, predicted: DataFrame) -> dict:
    """seqeval-style exact span match (N9): TP = inner join on
    (sent_id, entity_type, start, end); P/R/F1 overall and per type."""
    keys = ["sent_id", "entity_type", "start", "end"]
    g = golden.select(*keys).dropDuplicates(keys)
    p = predicted.select(*keys).dropDuplicates(keys)
    tp = g.join(p, keys).count()
    n_g = g.count()
    n_p = p.count()
    precision = tp / n_p if n_p else 1.0
    recall = tp / n_g if n_g else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "n_golden": n_g,
        "n_predicted": n_p,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def per_type_prf(golden: DataFrame, predicted: DataFrame) -> DataFrame:
    keys = ["sent_id", "entity_type", "start", "end"]
    g = golden.select(*keys).dropDuplicates(keys)
    p = predicted.select(*keys).dropDuplicates(keys)
    tp = g.join(p, keys).groupBy("entity_type").agg(F.count("*").alias("tp"))
    ng = g.groupBy("entity_type").agg(F.count("*").alias("n_golden"))
    np_ = p.groupBy("entity_type").agg(F.count("*").alias("n_predicted"))
    out = (
        ng.join(np_, "entity_type", "full")
        .join(tp, "entity_type", "left")
        .na.fill(0, ["tp", "n_golden", "n_predicted"])
    )
    prec = F.when(F.col("n_predicted") > 0, F.col("tp") / F.col("n_predicted")).otherwise(
        F.lit(1.0)
    )
    rec = F.when(F.col("n_golden") > 0, F.col("tp") / F.col("n_golden")).otherwise(
        F.lit(1.0)
    )
    return out.select(
        "entity_type",
        "tp",
        "n_golden",
        "n_predicted",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
    )


def error_cases(
    golden_tags: DataFrame, predicted_tags: DataFrame, context: int = 2
) -> DataFrame:
    """N10 — token-level mismatches with ±context tokens (J5 align join:
    posexplode both sides, inner equi-join on (sent_id, pos), slice the
    token array for the window — interpret.py:1112-1128 semantics)."""
    g = golden_tags.select(
        "sent_id", "tokens", F.posexplode("tags").alias("pos", "true_tag")
    )
    p = predicted_tags.select(
        "sent_id", F.posexplode("tags").alias("pos", "pred_tag")
    )
    j = g.join(p, ["sent_id", "pos"]).filter(
        F.col("true_tag") != F.col("pred_tag")
    )
    lo = F.greatest(F.col("pos") + 1 - context, F.lit(1))
    win = F.slice(F.col("tokens"), lo, F.lit(2 * context + 1))
    return j.select(
        "sent_id",
        "pos",
        F.element_at(F.col("tokens"), F.col("pos") + 1).alias("token"),
        "true_tag",
        "pred_tag",
        F.concat_ws(" ", win).alias("context"),
    )
