"""Category C — joins (SURVEY.md §2.C).

Scale posture:
- Dimension joins (nation/region/customer-at-small-sf) use explicit
  ``F.broadcast`` hints → BroadcastHashJoin, no shuffle of the fact side.
- Fact-fact joins (lineitem⋈orders) shuffle on the join key once; AQE
  handles skew/coalescing at runtime.
- The as-of join is expressed as union-tag + last(ignorenulls) over a
  window — one shuffle on user_id, no point-lookup loop; this is the
  standard scalable Spark formulation of ASOF.
- Theta/cross joins are O(n·m) by nature and flagged as small-dimension
  only; at 100 TB they would be banded (see join_interval_pairs for the
  band-condition pattern that keeps an equi component for the shuffle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.plans.determinism import (
    cents,
    money_sum_fast,
)
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import load, local_frame, spread


@register(
    "join_inner_equi",
    "C",
    oracle="""
        SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="Inner equi join orders⋈customer (shuffle hash / sort-merge).",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_left_outer",
    "C",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    doc="Left outer join — customers without orders get null fill.",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right_outer",
    "C",
    oracle="""
        SELECT o_orderkey, o_custkey, c_name
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    doc="Right outer join.",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "o_custkey", "c_name"
    )


@register(
    "join_full_outer",
    "C",
    oracle="""
        WITH big_cust AS (
            SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
        ),
        big_ord AS (
            SELECT o_custkey, COUNT(*) AS n_orders FROM orders
            WHERE o_totalprice > 200000 GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, o_custkey, n_orders
        FROM big_cust FULL JOIN big_ord ON c_custkey = o_custkey
    """,
    doc="Full outer join of two filtered sides (nulls on both).",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_name", "o_custkey", "n_orders"
    )


@register(
    "join_left_semi",
    "C",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    """,
    doc="Left semi join (EXISTS) — customers with at least one urgent order.",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    "C",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left anti join (NOT EXISTS) — customers with no orders at all.",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_broadcast_star",
    "C",
    oracle="""
        SELECT n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    doc="Broadcast-hash dim join (explicit F.broadcast hint; plan asserted in tests).",
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum_fast("c_acctbal", "sum_acctbal"),
        )
    )


@register(
    "join_star_5way",
    "C",
    oracle="""
        SELECT
            r_name,
            n_name,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
            COUNT(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    doc=(
        "5-way star join: one fact-fact shuffle (lineitem⋈orders), then "
        "broadcast dims — revenue per region/nation."
    ),
)
def join_star_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    # Revenue in integer cents per row, decimal accumulator (fast path —
    # see plans/determinism.py; bit-identical to the DECIMAL oracle form).
    revenue_prod = (
        cents("l_extendedprice") * (100 - cents("l_discount"))
    ).cast("decimal(28,0)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(revenue_prod) / F.lit(10000)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "join_theta_band",
    "C",
    oracle="""
        SELECT p_partkey, p_retailprice, s_suppkey, s_acctbal
        FROM part JOIN supplier
          ON p_retailprice BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
    doc=(
        "Non-equi theta (band) join — BroadcastNestedLoopJoin; exact-small "
        "variant, at scale this becomes a banded equi-join on bucketed ranges."
    ),
)
def join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    cond = p.p_retailprice.between(s.s_acctbal - 10, s.s_acctbal + 10)
    return p.join(F.broadcast(s), cond, "inner").select(
        "p_partkey", "p_retailprice", "s_suppkey", "s_acctbal"
    )


@register(
    "join_cross",
    "C",
    oracle="""
        SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    doc="Cross join of the two smallest dims (5×25).",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_self_succ",
    "C",
    oracle="""
        SELECT a.l_orderkey, a.l_linenumber,
               a.l_quantity AS qty, b.l_quantity AS next_qty
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
    """,
    doc="Self join on a composite successor key (line n ↔ line n+1).",
)
def join_self_succ(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("l_linenumber"),
        F.col("a.l_quantity").alias("qty"),
        F.col("b.l_quantity").alias("next_qty"),
    )


@register(
    "join_salted_skew",
    "C",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        JOIN customer ON (user_id % 10) + 1 = c_custkey
        GROUP BY c_mktsegment
    """,
    doc=(
        "Skew-mitigated join (salting): the build key (user_id % 10)+1 "
        "concentrates all events onto 10 hot keys — the classic skew shape. "
        "The salted plan appends a random-free deterministic salt "
        "(event_id % 16) to the hot key, explodes the dim side 16×, joins "
        "on (key, salt), then aggregates. Same result as the skewed join "
        "(oracle proves it) but the shuffle spreads each hot key over 16 "
        "partitions. At 100 TB this is the manual fallback when AQE skew "
        "handling can't split a single giant hash-key group."
    ),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    n_salt = 16
    skewed = ev.select(
        ((F.col("user_id") % 10) + 1).alias("join_key"),
        (F.col("event_id") % n_salt).alias("salt"),
        "value",
    )
    salted_dim = c.select(
        F.col("c_custkey").alias("join_key"),
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
    )
    return (
        skewed.join(salted_dim, ["join_key", "salt"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_fast("value", "sum_value"),
        )
    )


@register(
    "join_asof_event",
    "C",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts, s.ts AS signup_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc=(
        "As-of join: each purchase → latest earlier-or-equal signup of the "
        "same user. Spark has no native ASOF; implemented as union-tag + "
        "last(ignorenulls) over a user_id window — one shuffle, scales "
        "linearly (no per-row lookup)."
    ),
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(None).cast("timestamp").alias("s_ts"),
        F.lit(1).alias("tag"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("s_ts"),
        F.lit(0).alias("tag"),
    )
    # Order signups before purchases at equal ts so ts-equality matches
    # (ASOF's p.ts >= s.ts). last(ignorenulls) carries the latest signup
    # forward within each user's timeline.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(signups)
        .withColumn("signup_ts", F.last("s_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "signup_ts",
        )
    )


@register(
    "join_interval_pairs",
    "C",
    oracle="""
        SELECT a.event_id AS first_id, b.event_id AS second_id, a.user_id,
               a.ts AS first_ts, b.ts AS second_ts
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
    doc=(
        "Interval self-join: event pairs of the same user within 10 minutes. "
        "Equi component (user_id) carries the shuffle; the band is a post-"
        "filter — the scalable pattern for temporal joins."
    ),
)
def join_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("a.event_id").alias("first_id"),
        F.col("b.event_id").alias("second_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.ts").alias("first_ts"),
        F.col("b.ts").alias("second_ts"),
    )


@register(
    "join_range_bucket",
    "C",
    oracle="""
        SELECT p_partkey, p_retailprice, s_suppkey, s_acctbal
        FROM part JOIN supplier
          ON p_retailprice BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
    doc=(
        "Range join on the SCALE path: same semantics as join_theta_band "
        "but executed as a bucketed equi-join instead of a nested loop. "
        "Bucket width = band width (20): each supplier band covers at most "
        "2 buckets (explode via sequence), each part probes exactly its own "
        "bucket floor(price/20); the equi component (bucket id) carries a "
        "hash join, the BETWEEN residual filters false bucket-neighbors. "
        "Work drops from O(n*m) to O(n + m + matches) — at 100 TB this is a "
        "shuffle-partitioned hash join while the nested loop is infeasible."
    ),
)
def join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    width = 20  # == band width (2 * half-band of 10) => <= 2 buckets per band
    probe = p.select(
        "p_partkey", "p_retailprice",
        F.floor(F.col("p_retailprice") / width).alias("bucket"),
    )
    build = s.select(
        "s_suppkey", "s_acctbal",
        F.explode(
            F.sequence(
                F.floor((F.col("s_acctbal") - 10) / width),
                F.floor((F.col("s_acctbal") + 10) / width),
            )
        ).alias("bucket"),
    )
    return (
        probe.join(F.broadcast(build), "bucket")
        .filter(
            F.col("p_retailprice").between(
                F.col("s_acctbal") - 10, F.col("s_acctbal") + 10
            )
        )
        .select("p_partkey", "p_retailprice", "s_suppkey", "s_acctbal")
    )


@register(
    "join_hint_smj",
    "C",
    oracle="""
        SELECT o_orderkey, o_totalprice, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc=(
        "Join-strategy hint surface: the MERGE hint forces a sort-merge "
        "join where AQE would pick broadcast at this scale (asserted in "
        "tests) — the manual control used when the build side blows the "
        "broadcast budget on a real cluster. Result identical to the "
        "unhinted join (same oracle as join_inner_equi's shape)."
    ),
)
def join_hint_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").hint("merge")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@register(
    "join_existence_flag",
    "C",
    oracle="""
        SELECT c_custkey, c_name,
               EXISTS (
                   SELECT 1 FROM orders
                   WHERE o_custkey = c_custkey AND o_totalprice > 300000
               ) AS has_big_order
        FROM customer
    """,
    doc=(
        "Existence join: every customer kept, plus a boolean marker for "
        "'has a >300k order' — Spark plans the EXISTS projection as an "
        "ExistenceJoin (semi-join that appends a flag instead of "
        "filtering), one shuffle-free broadcast probe at dim scale."
    ),
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.sources.io import register_views

    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               EXISTS (
                   SELECT 1 FROM orders
                   WHERE o_custkey = c_custkey AND o_totalprice > 300000
               ) AS has_big_order
        FROM customer
        """
    )


@register(
    "join_asof_forward",
    "C",
    oracle="""
        SELECT s.event_id, s.user_id, s.ts AS signup_ts, p.ts AS next_purchase_ts
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON s.user_id = p.user_id AND s.ts <= p.ts
    """,
    doc=(
        "Forward as-of join: each signup → EARLIEST later-or-equal "
        "purchase of the same user (time-to-conversion measurement). "
        "Mirror of join_asof_event: union-tag + first(ignorenulls) over "
        "the forward-unbounded frame; signups sort before purchases at "
        "equal ts so ASOF's <= equality matches. One shuffle on user_id."
    ),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(0).alias("tag"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("p_ts"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        signups.unionByName(purchases)
        .withColumn("next_purchase_ts", F.first("p_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 0)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("signup_ts"),
            "next_purchase_ts",
        )
    )


@register(
    "join_asof_nearest",
    "C",
    oracle="""
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             s AS (SELECT * FROM events WHERE event_type = 'signup'),
             cand AS (
                 SELECT p.event_id, s.ts AS signup_ts,
                        ROW_NUMBER() OVER (
                            PARTITION BY p.event_id
                            ORDER BY abs(date_diff('microsecond', s.ts, p.ts)),
                                     s.ts
                        ) AS rn
                 FROM p JOIN s ON p.user_id = s.user_id
             )
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.signup_ts
        FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
          ON p.event_id = c.event_id
    """,
    doc=(
        "Nearest-as-of join: each purchase → the temporally CLOSEST signup "
        "of the same user in either direction (ties → the earlier signup). "
        "One union-tag pass with two directional windows over the same "
        "user_id partitioning — backward last(ignorenulls) + forward "
        "first(ignorenulls) share a single shuffle — then a closed-form "
        "pick of the nearer side. The oracle pays an O(pairs-per-user) "
        "candidate join; this plan stays linear per user timeline."
    ),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.lit(1).alias("tag"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("s_ts"),
        F.lit(0).alias("tag"),
    )
    # Signups sort before purchases at equal ts (tag 0 < 1): an equal-ts
    # signup lands in the backward window with distance 0, which is
    # unbeatable, so the forward window needn't see it.
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = F.unix_micros
    prev_c, next_c, ts_c = F.col("prev_ts"), F.col("next_ts"), F.col("ts")
    nearest = (
        F.when(prev_c.isNull(), next_c)
        .when(next_c.isNull(), prev_c)
        # tie → earlier signup (matches the oracle's ORDER BY abs, ts).
        .when(us(ts_c) - us(prev_c) <= us(next_c) - us(ts_c), prev_c)
        .otherwise(next_c)
    )
    return (
        purchases.unionByName(signups)
        .withColumn("prev_ts", F.last("s_ts", ignorenulls=True).over(back))
        .withColumn("next_ts", F.first("s_ts", ignorenulls=True).over(fwd))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            nearest.alias("signup_ts"),
        )
    )


@register(
    "join_fuzzy_editdist",
    "C",
    oracle="""
        SELECT a.c_custkey AS k1, b.c_custkey AS k2,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        FROM customer a
        JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc=(
        "Fuzzy self-join: customer-name pairs within Levenshtein distance "
        "1, WITHOUT the O(n²) comparison the oracle runs. Candidate keys = "
        "the name plus its single-character deletions (distance-≤1 pairs — "
        "substitution, insertion, or deletion — must share one: delete the "
        "edited position from both sides); equi-join on the key buckets, "
        "dedup, then the exact levenshtein residual. Work is "
        "O(n·len + candidate pairs) — a shuffled hash join at any scale. "
        "Skew note: exact-duplicate names all share their full-string key; "
        "a production corpus caps or salts that bucket (fixture names are "
        "unique)."
    ),
)
def join_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Deletion variants in SQL (substring needs expression offsets).
    # spread + explode_outer: keep variant generation off the single-file
    # scan task and out of the inferred size>0 pushdown (io.py::spread).
    cand = (
        spread(c, "c_custkey")
        .select(
            "c_custkey",
            "c_name",
            F.explode_outer(
                F.expr(
                    "array_union(array(c_name), transform("
                    "sequence(1, length(c_name)), i -> concat("
                    "substring(c_name, 1, i - 1), "
                    "substring(c_name, i + 1, length(c_name) - i))))"
                )
            ).alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("k1"),
            F.col("b.c_custkey").alias("k2"),
            F.col("a.c_name").alias("n1"),
            F.col("b.c_name").alias("n2"),
        )
        .distinct()
    )
    return (
        pairs.filter(F.levenshtein("n1", "n2") <= 1)
        .select("k1", "k2", F.levenshtein("n1", "n2").cast("int").alias("dist"))
    )


@register(
    "join_runtime_bloom",
    "C",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderpriority
    """,
    doc=(
        "Runtime bloom-filter join (the OSS injected-filter path): a "
        "selective dim-side predicate makes Catalyst build a bloom filter "
        "over the build-side join keys and push might_contain onto the "
        "fact scan, skipping ~80% of lineitem before the shuffle — the "
        "mechanism that replaces manual semi-join prefilters at 100 TB. "
        "Conf-gated (thresholds lowered because local fixture scans are "
        "below the 10 GB default application-side threshold; a real "
        "cluster hits it naturally). The overrides are scoped to a CLONED "
        "session (spark.newSession(): isolated SQLConf, shared "
        "SparkContext), so queries planned concurrently on the caller's "
        "session can never inherit them (round-2 advice — the previous "
        "set/restore pattern raced under concurrent planning). "
        "Exact cents sums; bloom false positives cannot change the "
        "result — the join still verifies keys exactly."
    ),
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents
    from big_data_management_and_analytics_spark.sources.session import tune

    # Isolated-conf clone: overrides live and die with this session object;
    # the caller's session conf is never touched.
    s = tune(spark.newSession())
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "0",
    )
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = (
        load(s, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    li = load(s, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    # Runtime filters inject at PHYSICAL planning, i.e. at action
    # time — materialize eagerly on the cloned session.
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(cents("l_extendedprice")) / 100.0)
            .cast("double")
            .alias("total_price"),
        )
        .collect()
    )
    return local_frame(
        spark, rows, "o_orderpriority string, n_lines long, total_price double"
    )


@register(
    "join_grid_knn",
    "B",
    oracle="""
        WITH c AS (
            SELECT c_custkey,
                   (c_custkey * 73 % 1000) / 10.0 AS cx,
                   (c_custkey * 179 % 1000) / 10.0 AS cy,
                   c_custkey * 73 % 1000 // 100 AS cellx,
                   c_custkey * 179 % 1000 // 100 AS celly
            FROM customer
        ),
        s AS (
            SELECT s_suppkey,
                   (s_suppkey * 73 % 1000) / 10.0 AS sx,
                   (s_suppkey * 179 % 1000) / 10.0 AS sy,
                   s_suppkey * 73 % 1000 // 100 AS cellx,
                   s_suppkey * 179 % 1000 // 100 AS celly
            FROM supplier
        ),
        cand AS (
            SELECT c.c_custkey, s.s_suppkey,
                   (c.cx - s.sx) * (c.cx - s.sx)
                   + (c.cy - s.sy) * (c.cy - s.sy) AS d2
            FROM c JOIN s
              ON abs(c.cellx - s.cellx) <= 1 AND abs(c.celly - s.celly) <= 1
        )
        SELECT c_custkey, s_suppkey, ROUND(sqrt(d2), 6) AS dist
        FROM cand
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY c_custkey ORDER BY d2, s_suppkey) = 1
    """,
    doc=(
        "Grid-bucketed bounded-radius nearest neighbor — the spatial-"
        "join scale pattern: entities land in coarse grid cells, each "
        "probe EXPLODES into its 3×3 neighbor cells, and the candidate "
        "generation becomes a plain EQUI-JOIN on the cell key (shuffle- "
        "or broadcast-able, work ∝ actual cell co-occupancy) — never an "
        "all-pairs distance cross join. The nearest pick is a per-probe "
        "window over the candidate set with a (distance, key) total "
        "order. Probes with no neighbor inside the 3×3 ring are absent "
        "by declared bounded-radius semantics (exactly what a grid "
        "accelerator returns). Coordinates are synthesized "
        "deterministically from the keys (73/179 multipliers mod the "
        "grid span) so both engines derive identical doubles — the "
        "fixture has no native geometry. Same shape at 100 TB: cell "
        "granularity trades candidate fan-out (9×) against cell "
        "occupancy; skewed cells respond to AQE skew-join or salting."
    ),
)
def join_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey")
    c = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 73 % 1000) / 10.0).alias("cx"),
        ((F.col("c_custkey") * 179 % 1000) / 10.0).alias("cy"),
        ((F.col("c_custkey") * 73 % 1000).cast("long") / F.lit(100)).cast("long").alias("cellx"),
        ((F.col("c_custkey") * 179 % 1000).cast("long") / F.lit(100)).cast("long").alias("celly"),
    )
    s = supp.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 73 % 1000) / 10.0).alias("sx"),
        ((F.col("s_suppkey") * 179 % 1000) / 10.0).alias("sy"),
        ((F.col("s_suppkey") * 73 % 1000).cast("long") / F.lit(100)).cast("long").alias("scellx"),
        ((F.col("s_suppkey") * 179 % 1000).cast("long") / F.lit(100)).cast("long").alias("scelly"),
    )
    # Probe-side neighbor expansion: each customer row becomes ≤ 9 rows
    # keyed by an exact neighbor cell, turning the radius search into an
    # equi-join on (cellx, celly).
    neighbors = c.select(
        "c_custkey",
        "cx",
        "cy",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(cellx + dx AS nx, celly + dy AS ny))))"
            )
        ).alias("cell"),
    ).select("c_custkey", "cx", "cy", F.col("cell.nx"), F.col("cell.ny"))
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    cand = neighbors.join(
        s,
        (F.col("nx") == F.col("scellx")) & (F.col("ny") == F.col("scelly")),
    ).select("c_custkey", "s_suppkey", d2.alias("d2"))
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "c_custkey", "s_suppkey", F.round(F.sqrt(F.col("d2")), 6).alias("dist")
        )
    )


@register(
    "join_asof_tolerance",
    "C",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               CASE WHEN p.ts - s.ts <= INTERVAL 24 HOUR THEN s.ts END
                   AS signup_ts,
               (s.ts IS NOT NULL
                AND p.ts - s.ts <= INTERVAL 24 HOUR) AS within_tolerance
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc=(
        "As-of join WITH TOLERANCE: each purchase matches its latest "
        "earlier-or-equal signup only if it happened within 24 hours — "
        "stale matches become NULL instead of silently attributing a "
        "conversion to a months-old signup (the correctness knob "
        "pandas.merge_asof calls `tolerance`). Same single-shuffle "
        "union-tag + last(ignorenulls) carry-forward as join_asof_event; "
        "the tolerance is one codegen condition on the carried "
        "timestamp, so the plan (and its linear scale posture) is "
        "unchanged. The oracle applies the identical window to DuckDB's "
        "native ASOF LEFT JOIN result."
    ),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.lit(1).alias("tag"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("s_ts"),
        F.lit(0).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        purchases.unionByName(signups)
        .withColumn("last_signup", F.last("s_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
    )
    in_tol = F.col("last_signup").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("last_signup")
        <= 86400 * 1000000
    )
    return carried.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_tol, F.col("last_signup")).alias("signup_ts"),
        in_tol.alias("within_tolerance"),
    )


@register(
    "join_asof_multi",
    "C",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               s.ts AS last_signup_ts, c.ts AS last_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc=(
        "Multi-feature POINT-IN-TIME join (the feature-store primitive): "
        "each purchase enriched with the latest earlier-or-equal signup "
        "AND the latest earlier-or-equal click of the same user, with no "
        "future leakage on either feature. The naive form is one as-of "
        "join PER feature table (k shuffles + k window passes); here all "
        "three event kinds union into ONE relation and a single "
        "partitioned window carries k last(ignorenulls) columns at once "
        "— one shuffle and one sort total, independent of the number of "
        "feature streams, which is what survives a feature store with "
        "dozens of tables at 100 TB. Feature rows order before the "
        "purchase row at equal timestamps (tag asc) so ties are "
        "inclusive, matching DuckDB's ASOF `>=`; only timestamps are "
        "emitted, so equal-ts feature duplicates cannot produce an "
        "engine-dependent pick."
    ),
)
def join_asof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(1).alias("tag"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id", "ts",
        F.col("ts").alias("s_ts"),
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(0).alias("tag"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id", "ts",
        F.lit(None).cast("timestamp").alias("s_ts"),
        F.col("ts").alias("c_ts"),
        F.lit(0).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(signups)
        .unionByName(clicks)
        .withColumn("last_signup_ts", F.last("s_ts", ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_signup_ts",
            "last_click_ts",
        )
    )


@register(
    "join_null_safe",
    "C",
    oracle="""
        WITH lhs AS (
            SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg,
                   CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM customer GROUP BY NULLIF(c_mktsegment, 'BUILDING')
        ),
        rhs AS (
            SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg,
                   CAST(COUNT(*) AS BIGINT) AS n_rich
            FROM customer WHERE c_acctbal > 5000
            GROUP BY NULLIF(c_mktsegment, 'BUILDING')
        )
        SELECT l.seg, l.n_customers, r.n_rich
        FROM lhs l JOIN rhs r ON l.seg IS NOT DISTINCT FROM r.seg
    """,
    doc=(
        "NULL-SAFE equality join (Spark <=> / eqNullSafe ≡ SQL IS NOT "
        "DISTINCT FROM): the NULL group on each side matches the NULL "
        "group on the other, where ordinary equi-join semantics silently "
        "drop every NULL-keyed row (filter_null_semantics' three-valued-"
        "logic lesson applied to the JOIN operator). Physically Spark "
        "still plans a HASH join — <=> is an equi-comparison with NULL "
        "as an ordinary key value — so the null-safe form costs the "
        "same shuffle as =, NOT a nested loop; that plan property is "
        "what makes it usable on real keys with missing values at "
        "scale. NULLIF manufactures a nullable key from the fixture."
    ),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    lhs = c.groupBy(seg.alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    rhs = (
        c.filter(F.col("c_acctbal") > 5000)
        .groupBy(seg.alias("seg2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rich"))
    )
    return (
        lhs.join(rhs, F.col("seg").eqNullSafe(F.col("seg2")))
        .select("seg", "n_customers", "n_rich")
    )


def _haversine_levels() -> list[list[tuple[str, str]]]:
    """Shared (column, expression-text) levels for the haversine
    distance — the SAME text runs as Spark selectExpr stages and as
    DuckDB CTE stages, so every float op is the identical IEEE tree in
    both engines (see portable_trig.py for why libm is banned here).
    Short intermediate names keep Horner's repeated square references
    from exploding the collapsed expression tree."""
    import math

    from big_data_management_and_analytics_spark.functions.portable_trig import (
        asin_text,
        cos_text,
        lit,
        sin_text,
    )

    d2r = lit(math.pi / 180 / 1e6)  # integer micro-degrees -> radians
    d2r_h = lit(math.pi / 180 / 1e6 / 2)  # half angle in one multiply
    return [
        [
            ("xdlat", f"(slat_u - clat_u) * {d2r_h}"),
            ("xdlon", f"(slon_u - clon_u) * {d2r_h}"),
            ("xclat", f"clat_u * {d2r}"),
            ("xslat", f"slat_u * {d2r}"),
        ],
        [
            ("qdlat", "xdlat * xdlat"),
            ("qdlon", "xdlon * xdlon"),
            ("qclat", "xclat * xclat"),
            ("qslat", "xslat * xslat"),
        ],
        [
            ("sdlat", sin_text("xdlat", "qdlat")),
            ("sdlon", sin_text("xdlon", "qdlon")),
            ("cclat", cos_text("qclat")),
            ("cslat", cos_text("qslat")),
        ],
        # LEAST guards the (polynomial) haversine value against a
        # sub-ulp excursion above 1.0 that would NaN the asin branch.
        [("hav_a", "LEAST(sdlat * sdlat + cclat * cslat * sdlon * sdlon, 1.0e0)")],
        [("hy", "SQRT(hav_a)")],
        [("hy2", "hy * hy"), ("hz", "SQRT((1.0e0 - hy) * 5.0e-1)")],
        [("hz2", "hz * hz")],
        [("asn", asin_text("hy", "hy2", "hz", "hz2"))],
    ]


# 2R = 12742 km. Half-up to 6 decimals via FLOOR(x*1e6 + 0.5) rather
# than ROUND: engine ROUND semantics differ on doubles (Spark rounds
# the SHORTEST decimal repr via BigDecimal.valueOf; DuckDB multiplies
# by 1e6 and std::rounds, inheriting the multiply's last-ulp error), so
# even bit-identical inputs can round apart near a boundary — at 1e4-km
# magnitudes that's ~1e-6/row, a near-certain hit at 100 TB. FLOOR of
# the same double is a pure IEEE op: identical in every engine, always.
_HAVERSINE_DIST = "CAST(FLOOR(1.2742e4 * asn * 1.0e6 + 5.0e-1) AS BIGINT) / 1.0e6"


def _haversine_oracle() -> str:
    ctes = [
        """j AS (
            SELECT c.c_custkey, s.s_suppkey, c.c_nationkey AS nationkey,
                   c.lat_u AS clat_u, c.lon_u AS clon_u,
                   s.lat_u AS slat_u, s.lon_u AS slon_u
            FROM c JOIN s ON s.s_nationkey = c.c_nationkey
        )"""
    ]
    prev = "j"
    for i, level in enumerate(_haversine_levels()):
        cols = ", ".join(f"{text} AS {name}" for name, text in level)
        ctes.append(f"l{i} AS (SELECT *, {cols} FROM {prev})")
        prev = f"l{i}"
    joined = ",\n        ".join(ctes)
    return f"""
        WITH c AS (
            SELECT c_custkey, c_nationkey,
                   ('0x' || substr(md5('geo:c:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                       % 160000001 - 80000000 AS lat_u,
                   ('0x' || substr(md5('geo:c:' || CAST(c_custkey AS VARCHAR)), 17, 15))::BIGINT
                       % 360000001 - 180000000 AS lon_u
            FROM customer
        ),
        s AS (
            SELECT s_suppkey, s_nationkey,
                   ('0x' || substr(md5('geo:s:' || CAST(s_suppkey AS VARCHAR)), 1, 15))::BIGINT
                       % 160000001 - 80000000 AS lat_u,
                   ('0x' || substr(md5('geo:s:' || CAST(s_suppkey AS VARCHAR)), 17, 15))::BIGINT
                       % 360000001 - 180000000 AS lon_u
            FROM supplier
        ),
        {joined}
        SELECT c_custkey, s_suppkey, nationkey,
               {_HAVERSINE_DIST} AS dist_km
        FROM {prev}
    """


@register(
    "join_geo_haversine",
    "C",
    oracle=_haversine_oracle(),
    doc=(
        "GREAT-CIRCLE (haversine) distance join: every customer paired "
        "with its nation's suppliers, distance on the sphere from "
        "synthesized coordinates — integer MICRO-DEGREES derived from "
        "the portable md5 family (one digest per entity, ph0→lat, "
        "ph1→lon; the fixture has no native geometry). Round 5: the "
        "sin/cos/asin are POLYNOMIALS whose expression text is shared "
        "verbatim with the oracle (portable_trig.py) — the sf0.1 sweep "
        "caught DuckDB's and the JVM's libm asin disagreeing by 1 ulp "
        "on a raw distance that sat exactly on the round-6 half "
        "boundary (12148.7576825, custkey 14845 / suppkey 198), so "
        "'round-6 absorbs libm drift' is only probabilistic at "
        "~4e-6/row for 1e4-km magnitudes; with shared polynomial text "
        "both engines run the identical IEEE double tree and the "
        "result is bit-exact BEFORE rounding. The join key is the "
        "nation — a real bounded equi-join, NOT a cross join: "
        "candidate generation scales with per-key co-occupancy exactly "
        "like join_grid_knn's cell join, which is the declared scale "
        "path when no relational key bounds the pairs. Complements "
        "join_grid_knn (planar, grid-pruned) with the spherical metric "
        "a geo pipeline actually ships."
    ),
)
def join_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.portable_hash import (
        ph0_hex,
        ph1_hex,
    )

    def coords(df, key, prefix, nation):
        hx = F.md5(F.concat(F.lit(prefix), F.col(key).cast("string")))
        return df.select(
            key,
            F.col(nation).alias(f"_{prefix[4:5]}nat"),
            (ph0_hex(hx) % 160000001 - 80000000).alias(f"{prefix[4:5]}lat_u"),
            (ph1_hex(hx) % 360000001 - 180000000).alias(f"{prefix[4:5]}lon_u"),
        )

    c = coords(
        load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        "c_custkey", "geo:c:", "c_nationkey",
    )
    s = coords(
        load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        "s_suppkey", "geo:s:", "s_nationkey",
    )
    j = c.join(s, c["_cnat"] == s["_snat"]).select(
        "c_custkey",
        "s_suppkey",
        F.col("_cnat").alias("nationkey"),
        "clat_u",
        "clon_u",
        "slat_u",
        "slon_u",
    )
    for level in _haversine_levels():
        j = j.selectExpr("*", *[f"{text} AS {name}" for name, text in level])
    return j.selectExpr(
        "c_custkey", "s_suppkey", "nationkey", f"{_HAVERSINE_DIST} AS dist_km"
    )
