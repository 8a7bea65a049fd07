"""Property-based tests (hypothesis) for the pure kernels + skew balance."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kgforge.bio import decode_spans, fix_entity_tags, validate_sentence
from kgforge.link import token_sort_ratio
from kgforge.schemas import TAGS

tag_st = st.sampled_from(TAGS)
token_st = st.text(
    alphabet="ab12ብር-/ ", min_size=1, max_size=8
).map(lambda s: s.replace(" ", "") or "x")


@st.composite
def sentence(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    tokens = [draw(token_st) for _ in range(n)]
    tags = [draw(tag_st) for _ in range(n)]
    return tokens, tags


@given(sentence())
@settings(max_examples=300, deadline=None)
def test_repair_is_idempotent(s):
    tokens, tags = s
    once = fix_entity_tags(tokens, tags)
    twice = fix_entity_tags(tokens, once)
    assert once == twice


@given(sentence())
@settings(max_examples=300, deadline=None)
def test_repair_never_emits_orphan_inside(s):
    """After repair, every I-X is preceded by a same-type B-/I- (rule 3
    guarantees this; validation can still fail only on the B-after-I rule)."""
    tokens, tags = s
    fixed = fix_entity_tags(tokens, tags)
    prev = None
    for t in fixed:
        if t.startswith("I-"):
            assert prev is not None and prev[2:] == t[2:], (tags, fixed)
        prev = t


@given(sentence())
@settings(max_examples=300, deadline=None)
def test_decode_spans_partition_tokens(s):
    """Spans are disjoint, ordered, in-bounds, and surfaces match tokens."""
    tokens, tags = s
    spans = decode_spans(tokens, tags)
    last_end = 0
    for etype, start, end, surface in spans:
        assert 0 <= start < end <= len(tokens)
        assert start >= last_end
        assert surface == " ".join(tokens[start:end])
        last_end = end


@given(sentence())
@settings(max_examples=200, deadline=None)
def test_valid_sentences_decode_reencode(s):
    """For IOB2-valid tag arrays, decode -> re-encode reproduces the tags."""
    tokens, tags = s
    if not validate_sentence(tokens, tags):
        return
    spans = decode_spans(tokens, tags)
    rebuilt = ["O"] * len(tokens)
    for etype, start, end, _ in spans:
        rebuilt[start] = f"B-{etype}"
        for i in range(start + 1, end):
            rebuilt[i] = f"I-{etype}"
    assert rebuilt == list(tags)


@given(st.text(max_size=20), st.text(max_size=20))
@settings(max_examples=300, deadline=None)
def test_token_sort_ratio_properties(a, b):
    r = token_sort_ratio(a, b)
    assert 0.0 <= r <= 1.0
    assert token_sort_ratio(b, a) == r  # symmetric
    assert token_sort_ratio(a, a) == 1.0


def test_mega_repo_skew_is_balanced_by_partitioner(spark):
    """with_part_id hashes (repo, path): the 30% mega-repo fixture must
    spread across partitions instead of pinning one straggler (north rule
    skew handling)."""
    from pyspark.sql import functions as F

    from kgforge.materialize import with_part_id
    from kgforge.synth import synth_source_files

    df = with_part_id(synth_source_files(spark, 2000), ["repo", "path"], 16)
    sizes = [r.n for r in df.groupBy("part_id").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 16
    assert max(sizes) < 2.0 * (sum(sizes) / len(sizes))  # no straggler partition
    # and the mega-repo alone spans (nearly) all partitions
    mega = (
        df.filter(F.col("repo").startswith("megacorp/"))
        .select("part_id")
        .distinct()
        .count()
    )
    assert mega >= 14


@given(st.data())
@settings(max_examples=10, deadline=None)
def test_upsert_random_batches_equal_union(spark, tmp_path_factory, data):
    """Upserting a random sequence of change batches equals the key-union
    with last-write... with least()-resolve: min over all batches per key
    — order-independent, the merge-exactness invariant of the CDC seam."""
    from pyspark.sql import functions as F

    from kgforge.materialize import upsert_partitioned

    keys = [f"k{i}" for i in range(12)]
    n_batches = data.draw(st.integers(1, 3))
    batches = [
        [
            (k, "p", "o", f"r{data.draw(st.integers(0, 9))}")
            for k in data.draw(st.lists(st.sampled_from(keys), min_size=1,
                                        max_size=8, unique=True))
        ]
        for _ in range(n_batches)
    ]
    path = str(tmp_path_factory.mktemp("ups") / "tbl")
    expect: dict = {}
    for rows in batches:
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string, repo string"
        )
        upsert_partitioned(df, path, ["subj", "pred", "obj"], n_parts=4,
                           resolve={"repo": F.least})
        for s, p, o, r in rows:
            kk = (s, p, o)
            expect[kk] = min(expect.get(kk, r), r)
    got = {(r.subj, r.pred, r.obj): r.repo
           for r in spark.read.parquet(path).collect()}
    assert got == expect
