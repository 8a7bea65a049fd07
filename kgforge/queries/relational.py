"""Relational core (SURVEY.md §2.2, §2.5-2.9): q01-q17.

Split from the monolithic queries.py in round 5 (VERDICT r4 #8);
every (fn, sql) pair unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from kgforge.queries.core import q, t, _dec_sum, _exact_stddev


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §2.2, §2.5-2.9)
# ---------------------------------------------------------------------------


@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(cast(l_quantity as decimal(18,2)))::double AS sum_qty,
           sum(cast(l_extendedprice as decimal(18,2)))::double AS sum_base_price,
           sum(cast(l_extendedprice as decimal(18,2))
               * cast(1 - l_discount as decimal(18,2)))::double AS sum_disc_price,
           round(sum(cast(l_quantity as decimal(18,2)))::double / count(*), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    """Flagship (A3/A15 shape — partial+final hash agg, pushdown-friendly)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                _dec_sum(F.col("l_quantity")) / F.count("*"), 4
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q02_filter_project",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 50000
    """,
)
def q02_filter_project(spark, sf_dir):
    """P1-P3: predicate + projection (pushed to the parquet scan)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_totalprice").between(1000, 50000)
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@q(
    "q03_top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) = 1
    """,
)
def q03_top_order_per_customer(spark, sf_dir):
    """A8: per-group arg-max (top post semantics, metrics_calculator.py:56).

    r7: hash-aggregated max(struct(price, -orderkey)) instead of the
    row_number window — the window plan sorts the ENTIRE table twice
    (WindowGroupLimit needs a sort below it on both the partial and final
    sides), while the struct-max is a partial+final hash agg with no sort
    at all. Identical rows (struct comparison = price desc, then min
    orderkey via the negated key — the window's exact ordering; A/B
    collect-compared at sf1, 149,993 rows equal; measured 1.6s -> 0.83s).
    Oracle SQL unchanged."""
    o = t(spark, sf_dir, "orders")
    best = o.groupBy("o_custkey").agg(
        F.max(
            F.struct(
                F.col("o_totalprice").alias("p"),
                (-F.col("o_orderkey")).alias("nk"),
            )
        ).alias("m")
    )
    return best.select(
        "o_custkey",
        (-F.col("m.nk")).alias("top_orderkey"),
        F.col("m.p").alias("top_totalprice"),
    )


@q(
    "q04_weekly_stats",
    """
    WITH weekly AS (
        SELECT event_type,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
               count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, count(*) AS n_weeks, sum(n)::bigint AS n_events,
           round(sum(n)::double / count(*), 4) AS avg_weekly,
           round(CASE WHEN count(*) > 1 THEN
               sqrt(greatest(0.0,
                   (sum(n::double * n::double) - sum(n)::double * sum(n)::double / count(*))
                   / (count(*) - 1.0)))
             END, 4) AS stddev_weekly
    FROM weekly GROUP BY event_type
    """,
)
def q04_weekly_stats(spark, sf_dir):
    """A6: two-level agg — weekly counts then mean/std
    (metrics_calculator.py:36-44)."""
    e = t(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week_start"
        ),
    ).agg(F.count("*").alias("n"))
    n = F.count("*").cast("double")
    sx = F.sum("n").cast("double")
    sxx = F.sum(F.col("n").cast("double") * F.col("n").cast("double"))
    return weekly.groupBy("event_type").agg(
        F.count("*").alias("n_weeks"),
        F.sum("n").alias("n_events"),
        F.round(F.sum("n").cast("double") / F.count("*"), 4).alias("avg_weekly"),
        F.round(
            F.when(
                F.count("*") > 1,
                F.sqrt(
                    F.greatest(F.lit(0.0), (sxx - sx * sx / n) / (n - F.lit(1.0)))
                ),
            ),
            4,
        ).alias("stddev_weekly"),
    )


@q(
    "q05_value_stats",
    """
    SELECT event_type,
           round(sum(cast(nullif(value, 0) as decimal(18,2)))::double
                 / count(nullif(value, 0)), 4) AS avg_value,
           round(median(nullif(value, 0)), 4) AS median_value,
           max(value) AS max_value, min(value) AS min_value,
           round(CASE WHEN count(value) > 1 THEN
               sqrt(greatest(0.0,
                   (sum(cast(value as decimal(18,2)) * cast(value as decimal(18,2)))::double
                    - sum(cast(value as decimal(18,2)))::double
                      * sum(cast(value as decimal(18,2)))::double / count(value))
                   / (count(value) - 1.0)))
             END, 3) AS stddev_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q05_value_stats(spark, sf_dir):
    """A7: view-stats shape incl. 0->null and exact median
    (metrics_calculator.py:46-57)."""
    e = t(spark, sf_dir, "events")
    nz = F.nullif(F.col("value"), F.lit(0))
    return e.groupBy("event_type").agg(
        F.round(_dec_sum(nz) / F.count(nz), 4).alias("avg_value"),
        F.round(F.median(nz), 4).alias("median_value"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.round(_exact_stddev(F.col("value")), 3).alias("stddev_value"),
        F.count("*").alias("n"),
    )


@q(
    "q06_monthly_trend",
    """
    SELECT year(ts) AS y, month(ts) AS m,
           round(sum(cast(value as decimal(18,2)))::double / count(value), 4) AS avg_value,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def q06_monthly_trend(spark, sf_dir):
    """A10: calendar-bucketed engagement trend (metrics_calculator.py:91-97)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(F.year("ts").alias("y"), F.month("ts").alias("m")).agg(
        F.round(_dec_sum(F.col("value")) / F.count("value"), 4).alias("avg_value"),
        F.count("*").alias("n_events"),
    )


@q(
    "q07_segment_revenue",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           sum(cast(o_totalprice as decimal(18,2)))::double AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q07_segment_revenue(spark, sf_dir):
    """J2: broadcast hash join (small dim side explicitly broadcast)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@q(
    "q08_region_rollup",
    """
    SELECT r_name, n_name, count(*) AS n_cust,
           sum(cast(c_acctbal as decimal(18,2)))::double AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q08_region_rollup(spark, sf_dir):
    """A15: grouping-sets/rollup over a two-hop dimension join."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return j.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"),
        _dec_sum(F.col("c_acctbal")).alias("total_bal"),
    )


@q(
    "q09_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q09_distinct_users(spark, sf_dir):
    """D1/A5: exact distinct (expand-style two-phase agg under AQE)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@q(
    "q10_union_dedup",
    """
    SELECT count(*) AS n_rows, count(DISTINCT o_custkey) AS n_custs
    FROM (SELECT DISTINCT * FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders))
    """,
)
def q10_union_dedup(spark, sf_dir):
    """D2+D4: union-all then exact dedup (the dedup the reference never did
    despite hashing rows — telegram_scraper.py:310)."""
    o = t(spark, sf_dir, "orders")
    u = o.unionByName(o).dropDuplicates()
    return u.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@q(
    "q11_topk_orders",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q11_topk_orders(spark, sf_dir):
    """O3: top-k -> TakeOrderedAndProject (no global sort)."""
    o = t(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(
        10
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@q(
    "q12_dateparts",
    """
    SELECT year(ts) AS y, weekofyear(ts) AS iso_week, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q12_dateparts(spark, sf_dir):
    """F13: date-part derivation (year/ISO week, data_loader.py:50-55)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        F.year("ts").alias("y"), F.weekofyear("ts").alias("iso_week")
    ).agg(F.count("*").alias("n"))


@q(
    "q13_customers_without_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q13_customers_without_orders(spark, sf_dir):
    """left_anti join — the lineage-resume shape (SURVEY.md §2.6)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@q(
    "q14_conditional_agg",
    """
    SELECT l_linestatus,
           sum(cast(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
               as decimal(18,2)))::double AS returned_qty,
           sum(cast(l_quantity as decimal(18,2)))::double AS total_qty,
           round(sum(cast(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END
                 as decimal(18,2)))::double
                 / sum(cast(l_quantity as decimal(18,2)))::double, 4)
               AS returned_share
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q14_conditional_agg(spark, sf_dir):
    """A2: conditional sum(when(...)) consistency-agg shape
    (data_pipeline.py:267-283)."""
    li = t(spark, sf_dir, "lineitem")
    returned = _dec_sum(
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(F.lit(0))
    )
    total = _dec_sum(F.col("l_quantity"))
    return li.groupBy("l_linestatus").agg(
        returned.alias("returned_qty"),
        total.alias("total_qty"),
        F.round(returned / total, 4).alias("returned_share"),
    )


@q(
    "q15_argmax_month",
    """
    WITH m AS (
        SELECT event_type, year(ts) AS y, month(ts) AS mo,
               round(sum(cast(value as decimal(18,2)))::double / count(value), 4) AS avg_value
        FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, y AS best_year, mo AS best_month, avg_value AS best_avg
    FROM m
    QUALIFY row_number() OVER (
        PARTITION BY event_type ORDER BY avg_value DESC, y, mo
    ) = 1
    """,
)
def q15_argmax_month(spark, sf_dir):
    """O4: arg-max month (best/worst month, metrics_calculator.py:96-97)."""
    e = t(spark, sf_dir, "events")
    m = e.groupBy(
        "event_type", F.year("ts").alias("y"), F.month("ts").alias("mo")
    ).agg(
        F.round(_dec_sum(F.col("value")) / F.count("value"), 4).alias("avg_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("avg_value").desc(), F.col("y"), F.col("mo")
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("y").alias("best_year"),
            F.col("mo").alias("best_month"),
            F.col("avg_value").alias("best_avg"),
        )
    )


@q(
    "q16_lag_delta",
    """
    WITH d AS (
        SELECT event_type,
               cast(value as decimal(18,2)) - lag(cast(value as decimal(18,2))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS delta
        FROM events
    )
    SELECT event_type,
           round(sum(delta)::double / count(delta), 4) AS avg_delta,
           count(delta) AS n_deltas
    FROM d GROUP BY event_type
    """,
)
def q16_lag_delta(spark, sf_dir):
    """§2.9 lag/lead window (error-context / prev-tag shape,
    interpret.py:1121-1127)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vdec = F.col("value").cast("decimal(18,2)")
    d = e.withColumn("delta", vdec - F.lag(vdec).over(w))
    return d.groupBy("event_type").agg(
        F.round(F.sum("delta").cast("double") / F.count("delta"), 4).alias(
            "avg_delta"
        ),
        F.count("delta").alias("n_deltas"),
    )


@q(
    "q17_weighted_score",
    """
    WITH stats AS (
        SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer
    ), cnt AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey,
           round(least(100.0,
               0.4 * 100.0 * least(1.0, greatest(0.0, (c_acctbal - lo) / (hi - lo)))
             + 0.6 * 100.0 * least(1.0, coalesce(n_orders, 0) / 20.0)
           ), 4) AS lending_score
    FROM (SELECT * FROM customer CROSS JOIN stats) c
    LEFT JOIN cnt ON c_custkey = o_custkey
    """,
)
def q17_weighted_score(spark, sf_dir):
    """F18/F19: clamped min-max normalize + weighted lending score
    (metrics_calculator.py:100-116, weights config/config.py:14-19)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    stats = c.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    cnt = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    # stats is 1 row -> broadcast is always safe. cnt is |customers| rows —
    # fact-cardinality, so NO broadcast hint: let AQE pick (it will broadcast
    # while small and shuffle-join at scale instead of OOMing the driver).
    j = c.crossJoin(F.broadcast(stats)).join(
        cnt, c["c_custkey"] == cnt["o_custkey"], "left"
    )
    bal_norm = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0), (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo"))
        ),
    )
    ord_norm = F.least(F.lit(1.0), F.coalesce(F.col("n_orders"), F.lit(0)) / F.lit(20.0))
    return j.select(
        "c_custkey",
        F.round(
            F.least(F.lit(100.0), 0.4 * 100.0 * bal_norm + 0.6 * 100.0 * ord_norm), 4
        ).alias("lending_score"),
    )
