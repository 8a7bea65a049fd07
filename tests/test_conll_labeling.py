"""CoNLL scan/sink round-trip, labeling pipeline, metrics jobs."""

from __future__ import annotations

from kgforge.conll import read_conll, write_conll
from kgforge.labeling import (
    corpus_stats,
    entity_consistency,
    prepare_labeled_data,
    tag_distribution,
)
from kgforge.metrics import error_cases, per_type_prf, span_prf, spans_table

CONLL_TEXT = """ዋጋ\tO
2,500\tB-PRICE
ብር\tI-PRICE

ሽያጭ\tO
ጫማ\tB-PRODUCT
ጥሩ\tI-PRODUCT
እና\tO

ብቻ\tO
"""


def _sentences(spark):
    data = [
        (0, ["ዋጋ", "2,500", "ብር"], ["O", "B-PRICE", "O"]),  # rule 1 fires
        (1, ["ሽያጭ", "SKU-11/A2"], ["O", "B-PRODUCT"]),  # rule 2 veto
        (2, ["x", "y"], ["O", "I-LOC"]),  # rule 3 promote
        (3, ["a"], ["B-LOC"]),
        (4, ["m", "n", "o"], ["B-PRICE", "I-PRICE", "O"]),
    ] + [(10 + i, ["w", "z"], ["O", "O"]) for i in range(20)]
    return spark.createDataFrame(
        data, "sent_id long, tokens array<string>, tags array<string>"
    )


def test_conll_roundtrip(spark, tmp_path):
    src = tmp_path / "in.conll"
    src.write_text(CONLL_TEXT, encoding="utf-8")
    df = read_conll(spark, str(src))
    rows = {tuple(r.tokens): list(r.tags) for r in df.collect()}
    assert rows[("ዋጋ", "2,500", "ብር")] == ["O", "B-PRICE", "I-PRICE"]
    assert rows[("ሽያጭ", "ጫማ", "ጥሩ", "እና")] == ["O", "B-PRODUCT", "I-PRODUCT", "O"]
    assert rows[("ብቻ",)] == ["O"]
    assert df.count() == 3

    out = str(tmp_path / "out")
    write_conll(df, out)
    again = read_conll(spark, f"{out}/*.txt")
    assert {tuple(r.tokens) for r in again.collect()} == set(rows)


def test_conll_multifile_sent_ids_globally_unique(spark, tmp_path):
    """Two files whose sentences share in-file indexes must NOT collide on
    sent_id (ADVICE r1: multi-file glob corrupted span-join P/R counts)."""
    (tmp_path / "a.conll").write_text("x\tO\n\ny\tB-LOC\n", encoding="utf-8")
    (tmp_path / "b.conll").write_text("p\tO\n\nq\tB-LOC\n", encoding="utf-8")
    df = read_conll(spark, str(tmp_path / "*.conll"))
    rows = df.collect()
    assert len(rows) == 4
    assert len({r.sent_id for r in rows}) == 4  # globally unique
    assert sorted(r.file_sent_id for r in rows) == [0, 0, 1, 1]


def test_conll_line_order_preserved_exactly(spark, tmp_path):
    """100-token sentence comes back in exact file order (posexplode line
    positions, not monotonically_increasing_id)."""
    toks = [f"t{i:03d}" for i in range(100)]
    (tmp_path / "long.conll").write_text(
        "".join(f"{t}\tO\n" for t in toks), encoding="utf-8"
    )
    r = read_conll(spark, str(tmp_path / "long.conll")).first()
    assert r.tokens == toks


def test_conll_crlf_equals_lf(spark, tmp_path):
    """CRLF CoNLL (the reference's actual export line endings) must parse
    IDENTICALLY to LF: blank lines stay sentence boundaries (not '\r'
    residue merging everything into one sentence) and no tag carries a
    trailing '\r' (ADVICE r2 high). Also covers bare-CR (classic Mac)."""
    (tmp_path / "lf.conll").write_text(CONLL_TEXT, encoding="utf-8")
    (tmp_path / "crlf.conll").write_bytes(
        CONLL_TEXT.replace("\n", "\r\n").encode("utf-8")
    )
    (tmp_path / "cr.conll").write_bytes(
        CONLL_TEXT.replace("\n", "\r").encode("utf-8")
    )
    expected = {
        tuple(r.tokens): list(r.tags)
        for r in read_conll(spark, str(tmp_path / "lf.conll")).collect()
    }
    for name in ("crlf.conll", "cr.conll"):
        df = read_conll(spark, str(tmp_path / name))
        got = {tuple(r.tokens): list(r.tags) for r in df.collect()}
        assert got == expected, name
        for tags in got.values():
            assert all("\r" not in t for t in tags), name


def test_conll_space_delimited_and_malformed(spark, tmp_path):
    src = tmp_path / "sp.conll"
    src.write_text("tok1 O\nmalformedline\ntok2 B-LOC\n\n", encoding="utf-8")
    df = read_conll(spark, str(src))
    r = df.first()
    # malformed single-field line skipped (P7)
    assert r.tokens == ["tok1", "tok2"]
    assert r.tags == ["O", "B-LOC"]


def test_prepare_labeled_data(spark):
    train, val, report = prepare_labeled_data(_sentences(spark))
    n = train.count() + val.count()
    assert n == 25  # all sentences valid after repair
    assert report["split_counts"]["train"] + report["split_counts"]["val"] == 25
    # rule 1 absorbed the unit: I-PRICE present in the distribution
    assert report["tag_distribution"].get("I-PRICE", 0) >= 2
    # rule 2 vetoed the SKU PRODUCT
    assert "B-PRODUCT" not in report["tag_distribution"]
    # deterministic rerun
    train2, val2, _ = prepare_labeled_data(_sentences(spark))
    assert {r.sent_id for r in train.collect()} == {r.sent_id for r in train2.collect()}


def test_tag_distribution_and_stats(spark):
    s = _sentences(spark)
    dist = {r.tag: r.n for r in tag_distribution(s).collect()}
    assert dist["O"] == 2 + 1 + 1 + 1 + 40
    stats = corpus_stats(s).first()
    assert stats.n_sentences == 25
    assert stats.min_len == 1 and stats.max_len == 3


def test_entity_consistency(spark):
    s = spark.createDataFrame(
        [
            (0, ["a", "b", "c"], ["B-PRICE", "I-PRICE", "O"]),  # terminated
            (1, ["a", "b"], ["B-PRICE", "B-LOC"]),  # price NOT terminated (B- follows)
            (2, ["a"], ["B-LOC"]),  # terminated at end
        ],
        "sent_id long, tokens array<string>, tags array<string>",
    )
    out = {r.entity_type: (r.total, r.correct) for r in entity_consistency(s).collect()}
    # reference semantics (data_pipeline.py:281-283): "correct" iff the NEXT
    # tag is neither I- nor B- — so B-PRICE followed by I-PRICE (sent 0) and
    # B-PRICE followed by B-LOC (sent 1) both count as NOT terminated
    assert out["PRICE"] == (2, 0)
    assert out["LOC"] == (2, 2)


def test_span_prf_and_errors(spark):
    golden = spark.createDataFrame(
        [
            (0, ["a", "b", "c"], ["B-PRICE", "I-PRICE", "O"]),
            (1, ["x", "y"], ["O", "B-LOC"]),
        ],
        "sent_id long, tokens array<string>, tags array<string>",
    )
    pred = spark.createDataFrame(
        [
            (0, ["a", "b", "c"], ["B-PRICE", "I-PRICE", "O"]),  # exact match
            (1, ["x", "y"], ["B-LOC", "O"]),  # wrong position
        ],
        "sent_id long, tokens array<string>, tags array<string>",
    )
    g, p = spans_table(golden), spans_table(pred)
    m = span_prf(g, p)
    assert m["tp"] == 1 and m["n_golden"] == 2 and m["n_predicted"] == 2
    assert abs(m["f1"] - 0.5) < 1e-9

    per = {r.entity_type: (r.tp, r.n_golden) for r in per_type_prf(g, p).collect()}
    assert per["PRICE"] == (1, 1)
    assert per["LOC"] == (0, 1)

    errs = error_cases(golden, pred).collect()
    assert {(e.sent_id, e.pos) for e in errs} == {(1, 0), (1, 1)}
    ctx = {e.pos: e.context for e in errs}
    assert ctx[0] == "x y"
