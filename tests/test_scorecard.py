"""Vendor scorecard pipeline (reference §3.3) + alignment kernels (N5/N7/N8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.alignment import align_labels, depad, pair_trim, whitespace_word_ids
from kgforge.schemas import TAG_TO_ID
from kgforge.scorecard import generate_scorecards, posts_with_mentions
from kgforge.synth import synth_messages


def test_scorecard_end_to_end(spark):
    posts = synth_messages(spark, 400)
    cards = generate_scorecards(posts).collect()
    by_channel = {r.channel: r for r in cards}
    assert len(by_channel) == 4  # 4 channels in the 0..399 id range
    for r in cards:
        assert 0.0 <= r.lending_score <= 100.0
        assert r.n_posts > 0
        assert r.top_post_id is not None
        # top post must be a real post of that vendor with max views
        top = (
            posts.filter(
                (F.col("channel") == r.channel)
                & (F.col("message_id") == r.top_post_id)
            )
            .select("views")
            .first()
        )
        mx = (
            posts.filter(F.col("channel") == r.channel)
            .agg(F.max("views"))
            .first()[0]
        )
        assert top.views == mx


def test_scorecard_price_stats_use_extracted_mentions(spark):
    posts = synth_messages(spark, 300)
    mentions = posts_with_mentions(posts)
    types = {r.entity_type for r in mentions.select("entity_type").distinct().collect()}
    assert "PRICE" in types and "PRODUCT" in types
    cards = {r.channel: r for r in generate_scorecards(posts).collect()}
    for r in cards.values():
        if r.avg_price is not None:
            assert r.min_price <= r.avg_price <= r.max_price


def test_scorecard_deterministic(spark):
    a = {r.channel: r.lending_score for r in generate_scorecards(synth_messages(spark, 200)).collect()}
    b = {r.channel: r.lending_score for r in generate_scorecards(synth_messages(spark, 200)).collect()}
    assert a == b


# --- alignment kernels (N5/N7/N8, train_ner.py:252-318 semantics) ---------


def test_align_labels_first_subword_gets_label():
    tags = ["O", "B-PRICE", "I-PRICE"]
    word_ids = [None, 0, 1, 2, None]
    out = align_labels(word_ids, tags)
    assert out == [-100, TAG_TO_ID["O"], TAG_TO_ID["B-PRICE"], TAG_TO_ID["I-PRICE"], -100]


def test_align_labels_continuation_subwords():
    tags = ["B-PRODUCT", "O"]
    # word 0 split into 3 subwords, word 1 into 2
    word_ids = [None, 0, 0, 0, 1, 1, None]
    out = align_labels(word_ids, tags)
    assert out == [
        -100,
        TAG_TO_ID["B-PRODUCT"],
        TAG_TO_ID["I-PRODUCT"],  # B- word continuation -> I-
        TAG_TO_ID["I-PRODUCT"],
        TAG_TO_ID["O"],
        -100,  # O continuation -> ignored
        -100,
    ]


def test_align_labels_out_of_range_word():
    # tokenization mismatch -> -100 (train_ner.py:275-281)
    assert align_labels([None, 0, 5], ["O"]) == [-100, TAG_TO_ID["O"], -100]


def test_depad_and_pair_trim():
    labels = [-100, TAG_TO_ID["B-PRICE"], TAG_TO_ID["O"], -100]
    preds = [TAG_TO_ID["O"], TAG_TO_ID["B-PRICE"], TAG_TO_ID["B-LOC"], TAG_TO_ID["O"]]
    pred_tags, true_tags = depad(preds, labels)
    assert true_tags == ["B-PRICE", "O"]
    assert pred_tags == ["B-PRICE", "B-LOC"]
    assert pair_trim([1, 2, 3], [4, 5]) == ([1, 2], [4, 5])


def test_word_ids_roundtrip_with_alignment():
    tokens = ["ሽያጭ", "verylongtoken", "ብር"]
    tags = ["O", "B-PRODUCT", "O"]
    wids = whitespace_word_ids(tokens)
    out = align_labels(wids, tags)
    # long token split in two: second piece gets I-PRODUCT
    assert TAG_TO_ID["I-PRODUCT"] in out


# --- exact oracle: the scorecard formulas against DuckDB -----------------

# vendor_metrics -> lending_scores over deterministic events, re-derived in
# DuckDB SQL: every aggregate, window, weight and cap must agree.
_SCORECARD_SQL = """
WITH posts AS (
    SELECT 'vendor_' || (user_id % 20) AS channel,
           event_id AS message_id, ts AS date,
           CAST(round(value * 100) AS BIGINT) AS views,
           props, event_type
    FROM events
), posting AS (
    SELECT channel, round(avg(n), 4) AS avg_weekly_posts
    FROM (SELECT channel, year(date) AS y, weekofyear(date) AS w,
                 count(*) AS n
          FROM posts GROUP BY channel, y, w)
    GROUP BY channel
), viewagg AS (
    SELECT channel, count(*) AS n_posts,
           round(avg(nullif(views, 0)), 4) AS avg_views
    FROM posts GROUP BY channel
), top AS (
    SELECT channel, message_id AS top_post_id
    FROM (SELECT channel, message_id,
                 row_number() OVER (PARTITION BY channel
                                    ORDER BY views DESC, message_id) AS rn
          FROM posts)
    WHERE rn = 1
), price AS (
    SELECT channel, round(avg(amount), 4) AS avg_price
    FROM (SELECT channel,
                 try_cast(unnest(regexp_extract_all(props, '([0-9]+)', 1))
                          AS double) AS amount
          FROM posts)
    GROUP BY channel
), variety AS (
    SELECT channel, count(DISTINCT event_type) AS product_variety
    FROM posts GROUP BY channel
)
SELECT p.channel, v.n_posts, p.avg_weekly_posts, v.avg_views,
       t.top_post_id, pr.avg_price, vr.product_variety,
       round(least(100.0, 100.0 * (
           0.4 * least(1.0, greatest(0.0, coalesce(v.avg_views, 0) / 5000.0))
         + 0.3 * least(1.0, greatest(0.0, coalesce(p.avg_weekly_posts, 0) / 5.0))
         + 0.2 * least(1.0, greatest(0.0, coalesce(pr.avg_price, 0) / 10000.0))
         + 0.1 * least(1.0, greatest(0.0, coalesce(vr.product_variety, 0) / 50.0))
       )), 4) AS lending_score
FROM posting p
JOIN viewagg v USING (channel)
LEFT JOIN top t USING (channel)
LEFT JOIN price pr USING (channel)
LEFT JOIN variety vr USING (channel)
"""


def _events():
    """Deterministic (md5-derived) events: 20 vendor channels over five
    weeks, zero-view posts, props with zero, one or two digit runs."""
    import datetime
    import hashlib

    kinds = ("phone", "shoe", "bag", "kettle", "scarf", "radio")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        h = int.from_bytes(hashlib.md5(f"ev{i}".encode()).digest()[:8], "big")
        value = 0.0 if i % 13 == 0 else (h % 8000) / 100
        if i % 11 == 0:
            props = '{"tag": "none"}'
        elif i % 7 == 0:
            props = f'{{"k": {h % 12000}, "q": {h % 5}}}'
        else:
            props = f'{{"k": {h % 12000}}}'
        rows.append((
            i, t0 + datetime.timedelta(seconds=h % (35 * 86400)),
            h % 50, kinds[(h >> 20) % len(kinds)], value, props,
        ))
    return rows


def test_scorecard_formulas_match_duckdb(spark, same_rows):
    """vendor_metrics and lending_scores, fed by deterministic regex
    mentions (PRICE = digit runs in props, PRODUCT = event_type), equal
    the DuckDB re-derivation row for row."""
    import duckdb

    from kgforge.scorecard import lending_scores, vendor_metrics

    rows = _events()
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    posts = ev.select(
        F.concat(F.lit("vendor_"), (F.col("user_id") % 20).cast("string")).alias("channel"),
        F.col("event_id").alias("message_id"),
        F.col("ts").alias("date"),
        F.round(F.col("value") * 100).cast("long").alias("views"),
        "props",
        "event_type",
    )
    price_m = posts.select(
        "channel", "message_id", F.lit("PRICE").alias("entity_type"),
        F.explode(F.regexp_extract_all("props", F.lit("([0-9]+)"), 1)).alias("surface"),
    )
    prod_m = posts.select(
        "channel", "message_id", F.lit("PRODUCT").alias("entity_type"),
        F.col("event_type").alias("surface"),
    )
    scored = lending_scores(
        vendor_metrics(posts.drop("props", "event_type"),
                       price_m.unionByName(prod_m))
    ).select(
        "channel", "n_posts", "avg_weekly_posts", "avg_views",
        "top_post_id", "avg_price", "product_variety", "lending_score",
    )
    got = scored.collect()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", rows)
    cur = con.execute(_SCORECARD_SQL)
    want = cur.fetchall()
    want_cols = [d[0] for d in cur.description]

    assert len(got) == 20
    assert len({r.lending_score for r in got}) > 1
    same_rows(scored.columns, got, want_cols, want)
