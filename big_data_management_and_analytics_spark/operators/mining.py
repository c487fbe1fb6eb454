"""Data-mining / warehouse-modeling operators: Pareto skyline,
market-basket association rules, SCD type-2 dimension history, and a
global equi-depth histogram.

All four are classic published query shapes re-expressed Spark-first:

- Skyline (Börzsönyi, Kossmann, Stocker — "The Skyline Operator",
  ICDE 2001): the 2-D case reduces to a prefix-max scan over the
  price-sorted relation, so the 100 TB plan is one range shuffle plus the
  broadcast-offset two-pass pattern from ``operators/global_rank.py`` —
  never the O(n²) dominance self-join the naive formulation (and the
  DuckDB oracle, which can afford it at sf0.01) uses.
- Association rules (Agrawal, Imieliński, Swami, SIGMOD 1993): pairwise
  co-occurrence with support/confidence/lift. The pair space is
  per-basket, not global — the self-join is keyed on the order, so work
  is Σ|basket|², linear in orders for bounded basket width.
- SCD type-2 (Kimball dimensional modeling): change-row detection +
  validity intervals, all per-entity windows — parallelism = entity
  count, no global state.
- Equi-depth histogram: global NTILE via the range-partitioned two-pass
  rank (no single-partition window), then one hash aggregate per bucket.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.operators.global_rank import (
    ntile_expr,
    with_global_prefix_max,
    with_global_row_number,
)
from big_data_management_and_analytics_spark.plans.determinism import money_sum_fast
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import checkpoint, load


@register(
    "skyline_pareto",
    "L",
    oracle="""
        SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
        ORDER BY p.p_retailprice, p.p_partkey
    """,
    doc=(
        "Pareto skyline of parts — minimize retail price, maximize size "
        "(Börzsönyi et al., ICDE 2001). The oracle states the semantics "
        "as the O(n²) NOT EXISTS dominance test; the Spark plan exploits "
        "the 2-D structure instead: group to per-price best size (one "
        "hash agg), take the STRICT prefix max of best-size over the "
        "price order via the range-partitioned two-pass scan (no "
        "single-partition window, no pair space), keep prices whose best "
        "strictly beats every cheaper price's best, and join back to "
        "recover the skyline parts (ties on the skyline point all "
        "qualify — dominance requires one strict inequality). Linear in "
        "parts plus one range shuffle of the distinct-price relation."
    ),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    best = p.groupBy("p_retailprice").agg(F.max("p_size").alias("_best"))
    frontier = (
        with_global_prefix_max(best, "p_retailprice", "_best", "_prev")
        .filter(F.col("_prev").isNull() | (F.col("_best") > F.col("_prev")))
        .select("p_retailprice", F.col("_best").alias("p_size"))
    )
    return (
        p.join(F.broadcast(frontier), ["p_retailprice", "p_size"])
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


@register(
    "mkt_basket_rules",
    "L",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        n AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM baskets),
        brand_cnt AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM baskets GROUP BY brand
        ),
        pairs AS (
            SELECT a.brand AS brand_a, b.brand AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS pair_cnt
            FROM baskets a JOIN baskets b
              ON a.okey = b.okey AND a.brand < b.brand
            GROUP BY a.brand, b.brand
        )
        SELECT p.brand_a, p.brand_b, p.pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
               ROUND(CAST(p.pair_cnt AS DOUBLE) / n.n_orders, 6) AS support,
               ROUND(CAST(p.pair_cnt AS DOUBLE) / ca.cnt, 6) AS conf_a_to_b,
               ROUND(CAST(p.pair_cnt AS DOUBLE) / cb.cnt, 6) AS conf_b_to_a,
               ROUND(CAST(p.pair_cnt AS DOUBLE) * n.n_orders / (ca.cnt * cb.cnt), 6)
                   AS lift
        FROM pairs p
        JOIN brand_cnt ca ON ca.brand = p.brand_a
        JOIN brand_cnt cb ON cb.brand = p.brand_b, n
        ORDER BY p.brand_a, p.brand_b
    """,
    doc=(
        "Market-basket association rules over order baskets (Agrawal et "
        "al., SIGMOD 1993): brands co-purchased in the same order, with "
        "support / directional confidence / lift. The pair generation is "
        "a SELF-JOIN KEYED ON THE ORDER (never a global cross join): work "
        "is Σ|basket|² — linear in orders for the bounded basket widths "
        "real carts have. Brand marginals are one hash agg joined back "
        "(broadcast-sized: the brand domain is tiny vs the fact). All "
        "ratios derive from BIGINT counts with one double division each, "
        "rounded 6 — partition-order invariant. Deterministic (brand_a, "
        "brand_b) order; no float ordering anywhere."
    ),
)
def mkt_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = baskets.agg(
        F.count_distinct("okey").cast("bigint").alias("n_orders")
    )
    brand_cnt = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    a = baskets.select("okey", F.col("brand").alias("brand_a"))
    b = baskets.select("okey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
    )
    ca = brand_cnt.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    cb = brand_cnt.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            F.round(F.col("pair_cnt").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_cnt").cast("double") / F.col("cnt_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("pair_cnt").cast("double") / F.col("cnt_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("pair_cnt").cast("double")
                * F.col("n_orders")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


@register(
    "scd_type2_history",
    "L",
    oracle="""
        WITH src AS (
            SELECT user_id, ts, event_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, ts, event_id, event_type
            FROM src
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
               event_type AS state,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
               (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL) AS is_current
        FROM changes
    """,
    doc=(
        "Slowly-changing-dimension type-2 history (Kimball): per user, "
        "collapse the event stream's consecutive duplicate states and "
        "emit versioned validity intervals [valid_from, valid_to) with "
        "an is_current flag on the open tail. Change detection is a "
        "lag() over the per-user (ts, event_id) total order; interval "
        "close is a lead() over the surviving change rows — every window "
        "is PARTITIONED BY the entity, so parallelism equals entity "
        "count and no global sort or state exists. This is the batch "
        "shape of a streaming CDC dimension build (cdc_apply_changes is "
        "the type-1 sibling; stream_tws_sessions the live-state one)."
    ),
)
def scd_type2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .select("user_id", "ts", "event_id", "event_type")
    )
    # event_id rides along as the tiebreak: same-timestamp change rows for
    # one user would otherwise get nondeterministic versions/intervals.
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.row_number().over(wc).cast("int").alias("version"),
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wc).alias("valid_to"),
        F.lead("ts").over(wc).isNull().alias("is_current"),
    )


@register(
    "agg_equidepth",
    "D",
    oracle="""
        WITH ranked AS (
            SELECT o_totalprice,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
            FROM orders
        )
        SELECT CAST(decile AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM ranked
        GROUP BY decile
        ORDER BY decile
    """,
    doc=(
        "Global equi-depth histogram (deciles) of order totals — the "
        "optimizer-statistics shape (equal COUNT per bucket, variable "
        "width), complementing agg_histogram's fixed-width buckets. The "
        "global NTILE runs through the range-partitioned two-pass rank "
        "(operators/global_rank.py) + the closed-form ntile expression — "
        "no single-partition window touches the data. One hash aggregate "
        "per bucket after; sums in exact integer cents."
    ),
)
def agg_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = with_global_row_number(
        o,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        rn="_rn",
        total="_total",
    )
    return (
        ranked.withColumn(
            "decile", ntile_expr(F.col("_rn"), F.col("_total"), 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            money_sum_fast("o_totalprice", "sum_price"),
        )
        .orderBy("decile")
    )


@register(
    "agg_welch_ttest",
    "D",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sc,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                       * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sc2
            FROM events
            WHERE event_type IN ('purchase', 'view')
            GROUP BY event_type
        ),
        s AS (
            SELECT
                MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
                MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
                MAX(CASE WHEN event_type = 'purchase' THEN sc END) AS sc1,
                MAX(CASE WHEN event_type = 'view' THEN sc END) AS sc2_,
                MAX(CASE WHEN event_type = 'purchase' THEN sc2 END) AS sq1,
                MAX(CASE WHEN event_type = 'view' THEN sc2 END) AS sq2
            FROM m
        ),
        d AS (
            SELECT n1, n2,
                   CAST(sc1 AS DOUBLE) / 100.0 / n1 AS m1,
                   CAST(sc2_ AS DOUBLE) / 100.0 / n2 AS m2,
                   (CAST(sq1 AS DOUBLE) / 10000.0
                    - (CAST(sc1 AS DOUBLE) / 100.0)
                      * (CAST(sc1 AS DOUBLE) / 100.0) / n1) / (n1 - 1) AS v1,
                   (CAST(sq2 AS DOUBLE) / 10000.0
                    - (CAST(sc2_ AS DOUBLE) / 100.0)
                      * (CAST(sc2_ AS DOUBLE) / 100.0) / n2) / (n2 - 1) AS v2
            FROM s
        )
        SELECT n1, n2,
               ROUND(m1, 6) AS mean_1, ROUND(m2, 6) AS mean_2,
               ROUND(v1, 6) AS var_1, ROUND(v2, 6) AS var_2,
               ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
               ROUND(
                   (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                   / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                      + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS welch_df
        FROM d
    """,
    doc=(
        "Welch's unequal-variance t-test comparing purchase vs view "
        "event values — the A/B-experiment significance aggregate. All "
        "accumulation is EXACT integer arithmetic: per-group Σcents and "
        "Σcents² as longs (2-decimal values ≤ ~50k cents, squares ≤ "
        "2.5e9 — 60M rows of sum headroom under 2^63; at larger scale "
        "the sums move to DECIMAL(38,0) unchanged in shape). Mean, "
        "variance, t, and the Welch–Satterthwaite df are then ONE "
        "deterministic double expression over the two exact moment "
        "pairs — identical op sequence both engines, so the hash "
        "matches bit-for-bit. Plan: single partial+final hash aggregate "
        "over the filtered scan (predicate pushed down), one row out."
    ),
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    c = cents("value")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(c).alias("sc"),
        F.sum(c * c).alias("sc2"),
    )
    s = m.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sc"))).alias("sc1"),
        F.max(F.when(F.col("event_type") == "view", F.col("sc"))).alias("sc2_"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sc2"))).alias("sq1"),
        F.max(F.when(F.col("event_type") == "view", F.col("sc2"))).alias("sq2"),
    )
    m1 = F.col("sc1").cast("double") / 100.0 / F.col("n1")
    m2 = F.col("sc2_").cast("double") / 100.0 / F.col("n2")
    v1 = (
        F.col("sq1").cast("double") / 10000.0
        - (F.col("sc1").cast("double") / 100.0)
        * (F.col("sc1").cast("double") / 100.0)
        / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("sq2").cast("double") / 10000.0
        - (F.col("sc2_").cast("double") / 100.0)
        * (F.col("sc2_").cast("double") / 100.0)
        / F.col("n2")
    ) / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    return s.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_1"),
        F.round(m2, 6).alias("mean_2"),
        F.round(v1, 6).alias("var_1"),
        F.round(v2, 6).alias("var_2"),
        F.round((m1 - m2) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2 * se2
            / (
                (v1 / F.col("n1")) * (v1 / F.col("n1")) / (F.col("n1") - 1)
                + (v2 / F.col("n2")) * (v2 / F.col("n2")) / (F.col("n2") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


@register(
    "agg_abc_analysis",
    "L",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rc
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, rc,
                   SUM(rc) OVER (
                       ORDER BY rc DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   SUM(rc) OVER () AS total
            FROM rev
        ),
        classed AS (
            SELECT CASE WHEN CAST(cum AS DECIMAL(30,0)) * 100
                             <= CAST(total AS DECIMAL(30,0)) * 80 THEN 'A'
                        WHEN CAST(cum AS DECIMAL(30,0)) * 100
                             <= CAST(total AS DECIMAL(30,0)) * 95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   rc, total
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(rc) AS DOUBLE) / 100.0 AS revenue,
               ROUND(CAST(SUM(rc) AS DOUBLE) / ANY_VALUE(total), 6)
                   AS revenue_share
        FROM classed
        GROUP BY abc_class
        ORDER BY abc_class
    """,
    doc=(
        "ABC (Pareto 80/95) customer classification by cumulative "
        "revenue share — the inventory/CRM segmentation staple. The "
        "global running revenue total runs through the NEW two-pass "
        "prefix-SUM scan (global_rank.with_global_prefix_sum: range "
        "shuffle on (revenue DESC, custkey), per-partition inclusive "
        "running sum, driver-folded per-partition offsets attached as "
        "a literal) — no single-"
        "partition window touches the customer relation. Class "
        "boundaries compare EXACT integer cents (cum·100 ≤ total·80), "
        "so no float threshold wobble exists; the only doubles are the "
        "two final reporting columns. Linear, two shuffles + the "
        "aggregate."
    ),
)
def agg_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = o.groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("rc"))
    ranked = with_global_prefix_sum(
        rev,
        [F.col("rc").desc(), F.col("o_custkey").asc()],
        "rc",
        out="cum",
        total="total",
    )
    # Boundary compare in DECIMAL(30,0): cum·100 on longs would overflow
    # 2^63 around sf≈4000; decimal keeps the classification exact at any
    # scale with the identical result below it.
    cum_d = F.col("cum").cast("decimal(30,0)")
    tot_d = F.col("total").cast("decimal(30,0)")
    classed = ranked.select(
        "rc",
        "total",
        F.when(cum_d * 100 <= tot_d * 80, F.lit("A"))
        .when(cum_d * 100 <= tot_d * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum("rc").cast("double") / 100.0).alias("revenue"),
            F.round(
                F.sum("rc").cast("double") / F.first("total"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "agg_corr_matrix",
    "D",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, event_type,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(a.y AS DECIMAL(38,0))) AS sa,
                   SUM(CAST(b.y AS DECIMAL(38,0))) AS sb,
                   SUM(CAST(a.y AS DECIMAL(19,0))
                       * CAST(b.y AS DECIMAL(19,0))) AS sab,
                   SUM(CAST(a.y AS DECIMAL(19,0))
                       * CAST(a.y AS DECIMAL(19,0))) AS saa,
                   SUM(CAST(b.y AS DECIMAL(19,0))
                       * CAST(b.y AS DECIMAL(19,0))) AS sbb
            FROM hourly a JOIN hourly b
              ON a.h = b.h AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT type_a, type_b, n AS n_hours,
               CASE WHEN (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) > 0
                     AND (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb) > 0
                    THEN ROUND(
                        (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                        / sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                        / sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb),
                        6)
               END AS pearson_r
        FROM pairs
        ORDER BY type_a, type_b
    """,
    doc=(
        "Pairwise Pearson correlation matrix between event-type hourly "
        "spend series — cross-metric co-movement, the observability/"
        "feature-selection staple. Series align by an INNER self-join on "
        "the hour bucket (pair work per hour = |types|², linear in "
        "hours), and every accumulated moment (Σy, Σy², Σab) is an EXACT "
        "long sum of bounded cents products; r is one closed-form double "
        "expression over those longs — n·Σab is formed in DOUBLE because "
        "only that final product can exceed 2^63, and a double product "
        "of two exact longs is deterministic. Degenerate (zero-variance) "
        "series yield null r. Hash-exact under any partitioning."
    ),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    hourly = e.groupBy("h", "event_type").agg(F.sum(cents("value")).alias("y"))
    a = hourly.select("h", F.col("event_type").alias("type_a"), F.col("y").alias("ya"))
    b = hourly.select("h", F.col("event_type").alias("type_b"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # Moments accumulate as exact decimals: long products of two
            # hourly cents sums overflow 2^63 around sf≈15 (ANSI abort or
            # silent wrap), while DECIMAL(19,0)×DECIMAL(19,0) sums stay
            # exact at any scale — matching DuckDB's HUGEINT promotion.
            F.sum(F.col("ya").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("yb").cast("decimal(38,0)")).alias("sb"),
            F.sum(
                F.col("ya").cast("decimal(19,0)")
                * F.col("yb").cast("decimal(19,0)")
            ).alias("sab"),
            F.sum(
                F.col("ya").cast("decimal(19,0)")
                * F.col("ya").cast("decimal(19,0)")
            ).alias("saa"),
            F.sum(
                F.col("yb").cast("decimal(19,0)")
                * F.col("yb").cast("decimal(19,0)")
            ).alias("sbb"),
        )
    )
    nd = F.col("n").cast("double")
    va = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    vb = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    num = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_hours"),
        F.when(
            (va > 0) & (vb > 0), F.round(num / F.sqrt(va) / F.sqrt(vb), 6)
        ).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


SQL_REV_BY_NATION = """
        WITH rev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rc
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = n.n_regionkey
            GROUP BY r.r_name, n.n_name
        )"""


def _rev_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cents order revenue at (region, nation) grain — the leaf
    aggregate agg_share_of_parent and agg_hhi both roll up from (one
    fact-scale shuffle; dims broadcast)."""
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents("o_totalprice")).alias("rc"))
    )


@register(
    "agg_share_of_parent",
    "D",
    oracle=f"""
{SQL_REV_BY_NATION},
        lv AS (
            SELECT region, nation, rc,
                   SUM(rc) OVER (PARTITION BY region) AS region_rc,
                   SUM(rc) OVER () AS total_rc
            FROM rev
        )
        SELECT region, nation,
               CAST(rc AS DOUBLE) / 100.0 AS revenue,
               ROUND(CAST(rc AS DOUBLE) / region_rc, 6) AS share_of_region,
               ROUND(CAST(region_rc AS DOUBLE) / total_rc, 6)
                   AS region_share_of_total
        FROM lv
        ORDER BY region, nation
    """,
    doc=(
        "Multi-level contribution analysis — each nation's share of its "
        "region's revenue and each region's share of the total (the BI "
        "percent-of-parent report agg_rollup's subtotal grid does not "
        "express). One exact-cents aggregate at the leaf grain; parent "
        "totals come from a window PARTITIONED BY the parent (25 leaf "
        "rows — the window input is the aggregate output, never the "
        "fact table) plus one grand-total window over those same rows; "
        "at 100 TB the leaf aggregate is the only fact-scale shuffle. "
        "All ratios are single double divisions of exact longs, rounded "
        "6. The grand total is a 1-row broadcast scalar (no "
        "single-partition window anywhere, keeping the suite-wide "
        "invariant)."
    ),
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = _rev_by_nation(spark, sf_dir)
    w_region = Window.partitionBy("region")
    # Region subtotal is a parent-partitioned window over the 25-row
    # aggregate; the grand total rides the broadcast-scalar pattern (the
    # suite-wide no-single-partition-window invariant stays intact).
    total = rev.agg(F.sum("rc").alias("total_rc"))
    lv = rev.select(
        "region",
        "nation",
        "rc",
        F.sum("rc").over(w_region).alias("region_rc"),
    ).crossJoin(F.broadcast(total))
    return lv.select(
        "region",
        "nation",
        (F.col("rc").cast("double") / 100.0).alias("revenue"),
        F.round(F.col("rc").cast("double") / F.col("region_rc"), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.col("region_rc").cast("double") / F.col("total_rc"), 6
        ).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "agg_prop_ztest",
    "D",
    oracle="""
        WITH cohorts AS (
            SELECT user_id % 2 AS cohort,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                              AND value >= 250.0
                                            THEN user_id END) AS BIGINT)
                       AS n_converted
            FROM events
            GROUP BY user_id % 2
        ),
        s AS (
            SELECT
                MAX(CASE WHEN cohort = 0 THEN n_users END) AS n1,
                MAX(CASE WHEN cohort = 1 THEN n_users END) AS n2,
                MAX(CASE WHEN cohort = 0 THEN n_converted END) AS c1,
                MAX(CASE WHEN cohort = 1 THEN n_converted END) AS c2
            FROM cohorts
        )
        SELECT n1, n2, c1, c2,
               ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate_1,
               ROUND(CAST(c2 AS DOUBLE) / n2, 6) AS rate_2,
               CASE WHEN c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN
                   ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                         / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                                * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                                * (1.0 / n1 + 1.0 / n2)), 6)
               END AS z_stat
        FROM s
    """,
    doc=(
        "Two-proportion z-test on conversion rates between user cohorts "
        "(even/odd user id — the deterministic stand-in for an "
        "experiment assignment): the A/B significance test for RATES, "
        "sibling of agg_welch_ttest's means test. Conversion = user had "
        "a high-value (≥ $250) purchase — thresholded so the rate sits "
        "strictly inside (0, 1); an all-converted cohort pair has zero "
        "pooled variance and z is guarded to null (total, both "
        "engines); numerators/denominators are exact distinct "
        "counts, and the pooled-variance z statistic is one "
        "deterministic double expression over four BIGINTs — "
        "partition-order exact, no float accumulation anywhere. Plan: "
        "one conditional distinct-count aggregate over the event scan."
    ),
)
def agg_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    cohorts = e.groupBy((F.col("user_id") % 2).alias("cohort")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 250.0),
                F.col("user_id"),
            )
        )
        .cast("bigint")
        .alias("n_converted"),
    )
    s = cohorts.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("n2"),
        F.max(F.when(F.col("cohort") == 0, F.col("n_converted"))).alias("c1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_converted"))).alias("c2"),
    )
    r1 = F.col("c1").cast("double") / F.col("n1")
    r2 = F.col("c2").cast("double") / F.col("n2")
    pooled = (F.col("c1") + F.col("c2")).cast("double") / (F.col("n1") + F.col("n2"))
    se = F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    conv = F.col("c1") + F.col("c2")
    tot = F.col("n1") + F.col("n2")
    return s.select(
        "n1",
        "n2",
        "c1",
        "c2",
        F.round(r1, 6).alias("rate_1"),
        F.round(r2, 6).alias("rate_2"),
        F.when((conv > 0) & (conv < tot), F.round((r1 - r2) / se, 6)).alias(
            "z_stat"
        ),
    )


@register(
    "agg_hhi",
    "D",
    oracle=f"""
{SQL_REV_BY_NATION}
        SELECT region,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               ROUND(CAST(SUM(CAST(rc AS DECIMAL(19,0))
                              * CAST(rc AS DECIMAL(19,0))) AS DOUBLE)
                     / (CAST(SUM(CAST(rc AS DECIMAL(38,0))) AS DOUBLE)
                        * CAST(SUM(CAST(rc AS DECIMAL(38,0))) AS DOUBLE)),
                     6) AS hhi
        FROM rev
        GROUP BY region
        ORDER BY region
    """,
    doc=(
        "Herfindahl–Hirschman market-concentration index of order "
        "revenue by nation within each region (1/n = perfectly even, "
        "1 = monopoly) — the concentration complement of agg_gini. The "
        "algebraic identity HHI = Σshare² = Σrc² / (Σrc)² lets the "
        "whole statistic accumulate EXACTLY: per-nation cents totals, "
        "then decimal-exact Σrc² and Σrc per region (no float share "
        "per row, hence no summation-order drift), and ONE double "
        "division at the end. Same overflow posture as agg_corr_matrix: "
        "DECIMAL(19,0)² products summed as decimals, never longs."
    ),
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = _rev_by_nation(spark, sf_dir)
    rc19 = F.col("rc").cast("decimal(19,0)")
    return (
        rev.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.sum(rc19 * rc19).alias("_sq"),
            F.sum(F.col("rc").cast("decimal(38,0)")).alias("_tot"),
        )
        .select(
            "region",
            "n_nations",
            F.round(
                F.col("_sq").cast("double")
                / (F.col("_tot").cast("double") * F.col("_tot").cast("double")),
                6,
            ).alias("hhi"),
        )
        .orderBy("region")
    )


@register(
    "agg_chisq_test",
    "D",
    oracle="""
        WITH cells AS (
            SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        rows_ AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY seg),
        cols_ AS (SELECT prio, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY prio),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
        grid AS (
            SELECT r.rn, c.cn, t.nn, COALESCE(ce.n, 0) AS n
            FROM rows_ r
            CROSS JOIN cols_ c
            CROSS JOIN tot t
            LEFT JOIN cells ce ON ce.seg = r.seg AND ce.prio = c.prio
        ),
        terms AS (
            SELECT nn,
                   CAST(ROUND(
                       (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
                        - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
                          - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE))
                       / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)
                          * CAST(nn AS DOUBLE)), 9) AS DECIMAL(38,9)) AS term
            FROM grid
        ),
        dims AS (
            SELECT (SELECT COUNT(*) FROM rows_) AS n_rows,
                   (SELECT COUNT(*) FROM cols_) AS n_cols
        )
        SELECT CAST(ANY_VALUE(t.nn) AS BIGINT) AS n,
               CAST((ANY_VALUE(d.n_rows) - 1) * (ANY_VALUE(d.n_cols) - 1)
                    AS BIGINT) AS dof,
               ROUND(CAST(SUM(t.term) AS DOUBLE), 6) AS chi2,
               ROUND(sqrt(CAST(SUM(t.term) AS DOUBLE)
                     / (CAST(ANY_VALUE(t.nn) AS DOUBLE)
                        * (CASE WHEN ANY_VALUE(d.n_rows) < ANY_VALUE(d.n_cols)
                                THEN ANY_VALUE(d.n_rows)
                                ELSE ANY_VALUE(d.n_cols) END - 1))), 6)
                   AS cramers_v
        FROM terms t CROSS JOIN dims d
    """,
    doc=(
        "Pearson chi-squared independence test of market segment x order "
        "priority — the categorical-association screen of an experiment/"
        "feature-audit pipeline. The contingency table is ONE distributed "
        "hash aggregate; everything after operates on the <=|segs|x|prios| "
        "cell relation, checkpointed once so row totals, column "
        "totals, and the grand total do not re-run the base join "
        "(the graph.py multi-consumer pattern). Missing cells matter "
        "((0-e)^2/e = e != 0), so the full row x column grid is rebuilt "
        "with a broadcast cross join before the left join back onto "
        "observed cells. Each cell's term is one double expression over "
        "exact BIGINT marginals — identical op order on both engines — "
        "then ROUND(...,9) -> DECIMAL(38,9) so the cross-cell sum is "
        "order-invariant (determinism rule 2). Cramer's V normalizes by "
        "n*min(r-1,c-1). Plan: one shuffle to cells, broadcast joins "
        "after; linear in facts, constant beyond."
    ),
)
def agg_chisq_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(checkpoint)  # 4 consumers: rows/cols/tot/grid
    )
    rows_ = cells.groupBy("seg").agg(F.sum("n").cast("bigint").alias("rn"))
    cols_ = cells.groupBy("prio").agg(F.sum("n").cast("bigint").alias("cn"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cells), ["seg", "prio"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    num = F.col("n").cast("double") * F.col("nn").cast("double") - F.col(
        "rn"
    ).cast("double") * F.col("cn").cast("double")
    den = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        * F.col("nn").cast("double")
    )
    terms = grid.select(
        "nn",
        "seg",
        "prio",
        F.round(num * num / den, 9).cast("decimal(38,9)").alias("term"),
    )
    agg = terms.agg(
        F.max("nn").alias("nn"),
        F.countDistinct("seg").alias("n_rows"),
        F.countDistinct("prio").alias("n_cols"),
        F.sum("term").alias("chi2_dec"),
    )
    chi2 = F.col("chi2_dec").cast("double")
    return agg.select(
        F.col("nn").cast("bigint").alias("n"),
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("nn").cast("double")
                    * (F.least("n_rows", "n_cols") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "agg_ks_test",
    "D",
    oracle="""
        WITH pool AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        counts AS (
            SELECT v,
                   CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                   CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM pool GROUP BY v
        ),
        cum AS (
            SELECT v,
                   SUM(c0) OVER (ORDER BY v) AS cum0,
                   SUM(c1) OVER (ORDER BY v) AS cum1
            FROM counts
        ),
        tot AS (
            SELECT CAST(SUM(c0) AS BIGINT) AS n0,
                   CAST(SUM(c1) AS BIGINT) AS n1
            FROM counts
        ),
        d AS (
            SELECT c.v, t.n0, t.n1,
                   ABS(CAST(c.cum0 AS DECIMAL(38,0)) * t.n1
                       - CAST(c.cum1 AS DECIMAL(38,0)) * t.n0) AS diff
            FROM cum c CROSS JOIN tot t
        ),
        m AS (SELECT MAX(diff) AS dmax FROM d)
        SELECT d.n0, d.n1,
               ROUND(CAST(m.dmax AS DOUBLE)
                     / (CAST(d.n0 AS DOUBLE) * CAST(d.n1 AS DOUBLE)), 6)
                   AS ks_d,
               CAST(MIN(d.v) AS DOUBLE) / 100.0 AS at_value
        FROM d CROSS JOIN m
        WHERE d.diff = m.dmax
        GROUP BY d.n0, d.n1, m.dmax
    """,
    doc=(
        "Two-sample Kolmogorov-Smirnov distance between the URGENT and "
        "LOW order-price distributions — the drift detector a data-"
        "quality pipeline runs between snapshots. sup|F0-F1| needs both "
        "empirical CDFs along ONE global value order, i.e. two running "
        "counts over the same sort — served by the NEW struct-aggregated "
        "multi-column prefix-sum scan (global_rank.with_global_prefix_"
        "sums): one range shuffle of the distinct-value relation, both "
        "cumulative counts in one pass, no single-partition window. The "
        "statistic stays EXACT until the final division: the sup is "
        "max|cum0*n1 - cum1*n0| on DECIMAL(38,0) (cross-multiplied to "
        "avoid per-row float CDFs; decimal so n0*n1 survives any scale), "
        "and at_value reports the smallest value attaining it (exact "
        "integer tie-break, no max_by on floats). Plan: filtered scan -> "
        "value-grain hash agg -> one range shuffle -> tiny max; linear."
    ),
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sums,
    )
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    pool = o.select(cents("o_totalprice").alias("v"), g.alias("g"))
    counts = (
        pool.groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("c0"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
        )
        .transform(checkpoint)  # feeds the scan AND the totals
    )
    cum = with_global_prefix_sums(
        counts, [F.col("v").asc()], ["c0", "c1"], ["cum0", "cum1"]
    )
    tot = counts.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n0",
        "n1",
        F.abs(
            F.col("cum0").cast("decimal(38,0)") * F.col("n1")
            - F.col("cum1").cast("decimal(38,0)") * F.col("n0")
        ).alias("diff"),
    )
    m = d.agg(F.max("diff").alias("dmax"))
    return (
        d.crossJoin(F.broadcast(m))
        .filter(F.col("diff") == F.col("dmax"))
        .groupBy("n0", "n1", "dmax")
        .agg(F.min("v").alias("_v"))
        .select(
            "n0",
            "n1",
            F.round(
                F.col("dmax").cast("double")
                / (F.col("n0").cast("double") * F.col("n1").cast("double")),
                6,
            ).alias("ks_d"),
            (F.col("_v").cast("double") / 100.0).alias("at_value"),
        )
    )


@register(
    "agg_mannwhitney",
    "D",
    oracle="""
        WITH pool AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        counts AS (
            SELECT v,
                   CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                   CAST(SUM(1) AS BIGINT) AS ct
            FROM pool GROUP BY v
        ),
        cum AS (
            SELECT v, c0, ct, SUM(ct) OVER (ORDER BY v) AS cumt
            FROM counts
        ),
        tot AS (
            SELECT CAST(SUM(c0) AS BIGINT) AS n0,
                   CAST(SUM(ct - c0) AS BIGINT) AS n1,
                   CAST(SUM(ct) AS BIGINT) AS n
            FROM counts
        ),
        r AS (
            SELECT SUM(CAST(c0 AS DECIMAL(38,0))
                       * (2 * (cumt - ct) + ct + 1)) AS two_r0,
                   SUM(CASE WHEN ct > 1
                            THEN CAST(ct AS DECIMAL(38,0)) * ct * ct - ct
                            ELSE CAST(0 AS DECIMAL(38,0)) END) AS tie_sum
            FROM cum
        )
        SELECT t.n0, t.n1,
               ROUND(CAST(r.two_r0 - CAST(t.n0 AS DECIMAL(38,0)) * (t.n0 + 1)
                          AS DOUBLE) / 2.0, 2) AS u0,
               ROUND(CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE)
                     - CAST(r.two_r0 - CAST(t.n0 AS DECIMAL(38,0)) * (t.n0 + 1)
                            AS DOUBLE) / 2.0, 2) AS u1,
               ROUND(
                   (CAST(r.two_r0 - CAST(t.n0 AS DECIMAL(38,0)) * (t.n0 + 1)
                         AS DOUBLE) / 2.0
                    - CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE) / 2.0)
                   / sqrt(CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE) / 12.0
                          * ((CAST(t.n AS DOUBLE) + 1.0)
                             - CAST(r.tie_sum AS DOUBLE)
                               / (CAST(t.n AS DOUBLE)
                                  * (CAST(t.n AS DOUBLE) - 1.0)))), 6) AS z
        FROM r CROSS JOIN tot t
    """,
    doc=(
        "Mann-Whitney U rank-sum test (URGENT vs LOW order prices) — the "
        "nonparametric sibling of agg_welch_ttest for non-normal metric "
        "distributions. Pooled tie-averaged ranks never materialize per "
        "row: for value v with ct ties the rank block contributes "
        "c0*(2*cumbefore + ct + 1)/2 to R0, so ONE global prefix sum of "
        "the per-value total counts (the two-pass range-shuffle scan, no "
        "single-partition window) plus a hash aggregate yields 2*R0 "
        "EXACTLY in DECIMAL(38,0). U, the tie-correction Sum(t^3-t), and "
        "the normal-approximation z are then one double expression over "
        "those exact accumulators (identical op order both engines). "
        "Plan: filtered scan -> value-grain agg -> one range shuffle -> "
        "1-row aggregate; linear in rows, no per-row ranks shuffled."
    ),
)
def agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    pool = o.select(cents("o_totalprice").alias("v"), g.alias("g"))
    counts = (
        pool.groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("c0"),
            F.count(F.lit(1)).cast("bigint").alias("ct"),
        )
        .transform(checkpoint)  # feeds the scan AND the totals
    )
    cum = with_global_prefix_sum(counts, [F.col("v").asc()], "ct", out="cumt")
    tot = counts.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum(F.col("ct") - F.col("c0")).cast("bigint").alias("n1"),
        F.sum("ct").cast("bigint").alias("n"),
    )
    ct_dec = F.col("ct").cast("decimal(38,0)")
    r = cum.agg(
        F.sum(
            F.col("c0").cast("decimal(38,0)")
            * (2 * (F.col("cumt") - F.col("ct")) + F.col("ct") + 1)
        ).alias("two_r0"),
        F.sum(
            F.when(
                F.col("ct") > 1, ct_dec * F.col("ct") * F.col("ct") - F.col("ct")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("tie_sum"),
    )
    j = r.crossJoin(F.broadcast(tot))
    two_u0 = (
        F.col("two_r0") - F.col("n0").cast("decimal(38,0)") * (F.col("n0") + 1)
    ).cast("double")
    n0d, n1d, nd = (F.col(c).cast("double") for c in ("n0", "n1", "n"))
    var = (
        n0d
        * n1d
        / 12.0
        * ((nd + 1.0) - F.col("tie_sum").cast("double") / (nd * (nd - 1.0)))
    )
    return j.select(
        "n0",
        "n1",
        F.round(two_u0 / 2.0, 2).alias("u0"),
        F.round(n0d * n1d - two_u0 / 2.0, 2).alias("u1"),
        F.round((two_u0 / 2.0 - n0d * n1d / 2.0) / F.sqrt(var), 6).alias("z"),
    )


@register(
    "agg_regr_multi",
    "D",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS x1,
                   CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT))
                        AS BIGINT) AS x2
            FROM lineitem GROUP BY l_orderkey
        ),
        pts AS (
            SELECT p.x1, p.x2,
                   CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
            FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS DECIMAL(38,0)) AS s1,
                   CAST(SUM(x2) AS DECIMAL(38,0)) AS s2,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(x1 * x1) AS DECIMAL(38,0)) AS s11,
                   CAST(SUM(x1 * x2) AS DECIMAL(38,0)) AS s12,
                   CAST(SUM(x2 * x2) AS DECIMAL(38,0)) AS s22,
                   CAST(SUM(x1 * y) AS DECIMAL(38,0)) AS s1y,
                   CAST(SUM(x2 * y) AS DECIMAL(38,0)) AS s2y
            FROM pts
        ),
        d AS (
            SELECT n,
                   CAST(n AS DOUBLE) AS dn,
                   CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
                   CAST(sy AS DOUBLE) AS dy,
                   CAST(s11 AS DOUBLE) AS d11, CAST(s12 AS DOUBLE) AS d12,
                   CAST(s22 AS DOUBLE) AS d22,
                   CAST(s1y AS DOUBLE) AS d1y, CAST(s2y AS DOUBLE) AS d2y
            FROM mo
        ),
        solved AS (
            SELECT n, dy, dn,
                   dn * (d11 * d22 - d12 * d12)
                   - d1 * (d1 * d22 - d12 * d2)
                   + d2 * (d1 * d12 - d11 * d2) AS det,
                   dy * (d11 * d22 - d12 * d12)
                   - d1 * (d1y * d22 - d12 * d2y)
                   + d2 * (d1y * d12 - d11 * d2y) AS det0,
                   dn * (d1y * d22 - d12 * d2y)
                   - dy * (d1 * d22 - d12 * d2)
                   + d2 * (d1 * d2y - d1y * d2) AS det1,
                   dn * (d11 * d2y - d1y * d12)
                   - d1 * (d1 * d2y - d1y * d2)
                   + dy * (d1 * d12 - d11 * d2) AS det2
            FROM d
        )
        SELECT n,
               ROUND(det0 / det / 100.0, 6) AS b0,
               ROUND(det1 / det / 100.0, 6) AS b1,
               ROUND(det2 / det / 100.0, 6) AS b2
        FROM solved
    """,
    doc=(
        "TWO-predictor linear regression (order total ~ line count + "
        "total quantity) solved in closed form: one distributed pass "
        "accumulates the 9 normal-equation moments as EXACT integers "
        "(quantity and cents are integral; DECIMAL(38,0) sums out-scale "
        "any sf), then Cramer's rule on the 3x3 system is ONE double "
        "expression per coefficient — the multi-feature extension of "
        "agg_regr with zero per-row floats and no iterative solver. "
        "Identical op order on both engines makes the doubles "
        "bit-equal. Plan: line-grain aggregate -> key join -> 1-row "
        "moment aggregate; linear, nothing wider than 9 numbers ever "
        "crosses the wire."
    ),
)
def agg_regr_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x2"),
    )
    pts = per_order.join(
        o.select("o_orderkey", cents("o_totalprice").alias("y")),
        per_order.l_orderkey == F.col("o_orderkey"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    mo = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec(F.sum("x1")).alias("s1"),
        dec(F.sum("x2")).alias("s2"),
        dec(F.sum("y")).alias("sy"),
        dec(F.sum(F.col("x1") * F.col("x1"))).alias("s11"),
        dec(F.sum(F.col("x1") * F.col("x2"))).alias("s12"),
        dec(F.sum(F.col("x2") * F.col("x2"))).alias("s22"),
        dec(F.sum(F.col("x1") * F.col("y"))).alias("s1y"),
        dec(F.sum(F.col("x2") * F.col("y"))).alias("s2y"),
    )
    dbl = lambda name: F.col(name).cast("double")
    dn, d1, d2, dy = dbl("n"), dbl("s1"), dbl("s2"), dbl("sy")
    d11, d12, d22, d1y, d2y = (
        dbl("s11"), dbl("s12"), dbl("s22"), dbl("s1y"), dbl("s2y"),
    )
    det = (
        dn * (d11 * d22 - d12 * d12)
        - d1 * (d1 * d22 - d12 * d2)
        + d2 * (d1 * d12 - d11 * d2)
    )
    det0 = (
        dy * (d11 * d22 - d12 * d12)
        - d1 * (d1y * d22 - d12 * d2y)
        + d2 * (d1y * d12 - d11 * d2y)
    )
    det1 = (
        dn * (d1y * d22 - d12 * d2y)
        - dy * (d1 * d22 - d12 * d2)
        + d2 * (d1 * d2y - d1y * d2)
    )
    det2 = (
        dn * (d11 * d2y - d1y * d12)
        - d1 * (d1 * d2y - d1y * d2)
        + dy * (d1 * d12 - d11 * d2)
    )
    return mo.select(
        "n",
        F.round(det0 / det / 100.0, 6).alias("b0"),
        F.round(det1 / det / 100.0, 6).alias("b1"),
        F.round(det2 / det / 100.0, 6).alias("b2"),
    )

@register(
    "agg_survival_km",
    "L",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(epoch(date_trunc('hour', MIN(ts))) // 3600 AS BIGINT)
                       AS h0,
                   CAST(epoch(date_trunc('hour', MIN(CASE WHEN event_type =
                       'purchase' THEN ts END))) // 3600 AS BIGINT) AS hp,
                   CAST(epoch(date_trunc('hour', MAX(ts))) // 3600 AS BIGINT)
                       AS hl
            FROM events GROUP BY user_id
        ),
        obs AS (
            SELECT CASE WHEN hp IS NOT NULL THEN hp - h0 ELSE hl - h0 END AS t,
                   CASE WHEN hp IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM per_user
        ),
        grid AS (
            SELECT t,
                   CAST(SUM(ev) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS leaving
            FROM obs GROUP BY t
        ),
        risk AS (
            SELECT t, d,
                   SUM(leaving) OVER (
                       ORDER BY t DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS r
            FROM grid
        ),
        arr AS (
            SELECT list(CASE WHEN d > 0
                             THEN 1.0 - CAST(d AS DOUBLE) / r
                             ELSE 1.0 END ORDER BY t) AS fs,
                   list(t ORDER BY t) AS ts_,
                   list(d ORDER BY t) AS ds,
                   list(r ORDER BY t) AS rs
            FROM risk
        )
        SELECT CAST(ts_[i] AS BIGINT) AS t_hours,
               CAST(ds[i] AS BIGINT) AS d_events,
               CAST(rs[i] AS BIGINT) AS n_at_risk,
               ROUND(list_reduce(fs[1:i], (a, b) -> a * b), 6) AS survival
        FROM arr, LATERAL (
            SELECT UNNEST(generate_series(1, len(fs))) AS i
        ) gs
        WHERE ds[i] > 0
    """,
    doc=(
        "Kaplan-Meier survival curve for time-to-first-purchase (hour "
        "grain): users who never purchase are right-censored at their "
        "last observed event — the estimator that uses censored "
        "observations correctly where a naive mean-conversion-time "
        "drops them. Distributed work is two hash aggregates (per-user "
        "summary -> event-time grid); everything after runs on ONE row "
        "holding the bounded grid as arrays: suffix sums give the "
        "at-risk counts (exact longs), and S(t) = prod(1 - d_i/r_i) is "
        "a SEQUENTIAL prefix product via F.aggregate per output point "
        "(censored-only times contribute an exact 1.0 factor — a*1.0 "
        "is an identity, so both engines' fold orders agree "
        "bit-for-bit). O(grid^2) lambda ops on a few-hundred-point "
        "grid; the user relation never enters a window."
    ),
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    xh = lambda c: (F.unix_timestamp(F.date_trunc("hour", c)) / 3600).cast(
        "bigint"
    )
    per_user = e.groupBy("user_id").agg(
        xh(F.min("ts")).alias("h0"),
        xh(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("hp"),
        xh(F.max("ts")).alias("hl"),
    )
    obs = per_user.select(
        F.when(F.col("hp").isNotNull(), F.col("hp") - F.col("h0"))
        .otherwise(F.col("hl") - F.col("h0"))
        .alias("t"),
        F.when(F.col("hp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    grid = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    one = grid.agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "leaving"))).alias("g")
    )
    n = F.size(F.col("g"))
    one = one.withColumn(
        "rs",
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.aggregate(
                F.slice(F.col("g"), i, F.size(F.col("g")) - i + 1),
                F.lit(0).cast("bigint"),
                lambda a, s: a + s["leaving"],
            ),
        ),
    )
    one = one.withColumn(
        "fs",
        F.zip_with(
            F.col("g"),
            F.col("rs"),
            lambda s, r: F.when(
                s["d"] > 0, F.lit(1.0) - s["d"].cast("double") / r
            ).otherwise(F.lit(1.0)),
        ),
    )
    one = one.withColumn(
        "ss",
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.round(
                F.aggregate(
                    F.slice(F.col("fs"), 1, i),
                    F.lit(1.0),
                    lambda a, x: a * x,
                ),
                6,
            ),
        ),
    )
    exploded = one.select(
        F.posexplode(
            F.zip_with(
                F.col("g"),
                F.zip_with(
                    F.col("rs"),
                    F.col("ss"),
                    lambda r, s: F.struct(r.alias("r"), s.alias("s")),
                ),
                lambda g_, rs_: F.struct(
                    g_["t"].alias("t"),
                    g_["d"].alias("d"),
                    rs_["r"].alias("r"),
                    rs_["s"].alias("s"),
                ),
            )
        ).alias("_i", "row")
    )
    return exploded.filter(F.col("row.d") > 0).select(
        F.col("row.t").alias("t_hours"),
        F.col("row.d").alias("d_events"),
        F.col("row.r").alias("n_at_risk"),
        F.col("row.s").alias("survival"),
    )


@register(
    "agg_winsorized_mean",
    "D",
    oracle="""
        WITH c AS (
            SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
            FROM orders
        ),
        b AS (
            SELECT quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
            FROM c
        ),
        w AS (
            SELECT CAST(ROUND(LEAST(GREATEST(CAST(c.v AS DOUBLE), b.lo),
                                    b.hi)) AS BIGINT) AS wv,
                   CASE WHEN CAST(c.v AS DOUBLE) < b.lo
                          OR CAST(c.v AS DOUBLE) > b.hi
                        THEN 1 ELSE 0 END AS clipped
            FROM c CROSS JOIN b
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(clipped) AS BIGINT) AS n_clipped,
               ROUND(CAST(SUM(wv) AS DOUBLE) / COUNT(*) / 100.0, 6)
                   AS winsorized_mean,
               ROUND((SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) / 100.0
                      FROM c), 6) AS raw_mean
        FROM w
    """,
    doc=(
        "5/95-winsorized mean of order totals: values beyond the exact "
        "5th/95th percentiles are clamped to the boundary before "
        "averaging — the outlier-robust mean a metrics pipeline reports "
        "when a few whale orders would otherwise move the average. "
        "Two-phase: exact interpolated percentiles over cents (one "
        "aggregate, broadcast as a 1-row bound), then clamp + ROUND "
        "back to EXACT integer cents per row so the final sum has no "
        "float-order freedom (the only doubles are the shared bound "
        "comparison and two terminal divisions, identical op order both "
        "engines). Scale note: EXACT percentiles buffer the column in one "
        "aggregation buffer (fine to ~10^8 rows); the 100 TB form swaps "
        "in approx_percentile with identical downstream clamping "
        "(agg_approx_percentile shows that path). Two passes, no window."
    ),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").select(cents("o_totalprice").alias("v"))
    b = o.agg(
        F.percentile(F.col("v"), F.lit(0.05)).alias("lo"),
        F.percentile(F.col("v"), F.lit(0.95)).alias("hi"),
        F.sum("v").alias("tot"),
        F.count(F.lit(1)).alias("cnt"),
    )
    j = o.crossJoin(F.broadcast(b))
    vd = F.col("v").cast("double")
    wv = F.round(F.least(F.greatest(vd, F.col("lo")), F.col("hi"))).cast(
        "bigint"
    )
    clipped = F.when((vd < F.col("lo")) | (vd > F.col("hi")), 1).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(clipped).cast("bigint").alias("n_clipped"),
        F.round(
            F.sum(wv).cast("double") / F.count(F.lit(1)) / 100.0, 6
        ).alias("winsorized_mean"),
        F.round(
            F.first("tot").cast("double") / F.first("cnt") / 100.0, 6
        ).alias("raw_mean"),
    )


# Shared scoring for the ML-evaluation pair (agg_auc_roc / agg_lift_chart):
# score each embedding by an ALL-INTEGER dot product with the class-0
# centroid. Components quantize to round(x*1e6) longs, the centroid keeps
# its EXACT integer numerator sums (count is a constant factor, irrelevant
# to ranking), so score = sum_i q_i * s_i is an exact BIGINT — no float
# enters the ranking at all (64 dims x |q*s| <= ~2e14 stays far under
# 2^63).
_SCORE_CTE = """
        q AS (
            SELECT e.vec_id,
                   CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS pos,
                   gs.i,
                   CAST(ROUND(CAST(e.embedding[gs.i] AS DOUBLE) * 1000000)
                        AS BIGINT) AS qv
            FROM embeddings e, LATERAL (
                SELECT UNNEST(generate_series(1, len(e.embedding))) AS i
            ) gs
        ),
        cent AS (
            SELECT i, CAST(SUM(qv) AS BIGINT) AS s
            FROM q WHERE pos = 1 GROUP BY i
        ),
        scores AS (
            SELECT q.vec_id, ANY_VALUE(q.pos) AS pos,
                   CAST(SUM(q.qv * c.s) AS BIGINT) AS score
            FROM q JOIN cent c ON q.i = c.i
            GROUP BY q.vec_id
        )"""


def _class0_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * 1000000.0).cast("bigint"),
    )
    base = e.select(
        "vec_id",
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
        qv.alias("qv"),
    )
    exploded = base.select(
        "vec_id", "pos", F.posexplode("qv").alias("i", "q")
    )
    cent = (
        exploded.filter(F.col("pos") == 1)
        .groupBy("i")
        .agg(F.sum("q").cast("bigint").alias("s"))
    )
    return (
        exploded.join(F.broadcast(cent), "i")
        .groupBy("vec_id")
        .agg(
            F.any_value("pos").alias("pos"),
            F.sum(F.col("q") * F.col("s")).cast("bigint").alias("score"),
        )
    )


@register(
    "agg_auc_roc",
    "D",
    oracle=f"""
        WITH {_SCORE_CTE},
        counts AS (
            SELECT score,
                   CAST(SUM(pos) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS ct
            FROM scores GROUP BY score
        ),
        cum AS (
            SELECT score, c1, ct, SUM(ct) OVER (ORDER BY score) AS cumt
            FROM counts
        ),
        tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(ct - c1) AS BIGINT) AS n0
            FROM counts
        ),
        r AS (
            SELECT SUM(CAST(c1 AS DECIMAL(38,0))
                       * (2 * (cumt - ct) + ct + 1)) AS two_r1
            FROM cum
        )
        SELECT t.n1 AS n_pos, t.n0 AS n_neg,
               ROUND(CAST(r.two_r1 - CAST(t.n1 AS DECIMAL(38,0)) * (t.n1 + 1)
                          AS DOUBLE)
                     / (2.0 * CAST(t.n1 AS DOUBLE) * CAST(t.n0 AS DOUBLE)),
                     6) AS auc
        FROM r CROSS JOIN tot t
    """,
    doc=(
        "ROC AUC of 'centroid similarity identifies class 0': the "
        "standard ranking metric, computed EXACTLY by its rank-sum "
        "identity AUC = (R1 - n1(n1+1)/2)/(n1*n0) (ties get half "
        "credit via tie-averaged ranks) — the same global prefix-sum "
        "machinery as agg_mannwhitney, because AUC IS a scaled U "
        "statistic. No per-row sort rank materializes: per-score "
        "counts, one two-pass range-shuffle cumulative, a 1-row "
        "aggregate. The score itself is an exact integer dot product "
        "(see _SCORE_CTE) so not a single float participates before "
        "the terminal division. Linear at any scale."
    ),
)
def agg_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )

    scores = _class0_scores(spark, sf_dir)
    counts = (
        scores.groupBy("score")
        .agg(
            F.sum("pos").cast("bigint").alias("c1"),
            F.count(F.lit(1)).cast("bigint").alias("ct"),
        )
        .transform(checkpoint)  # scan + totals consumers
    )
    cum = with_global_prefix_sum(
        counts, [F.col("score").asc()], "ct", out="cumt"
    )
    tot = counts.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).cast("bigint").alias("n0"),
    )
    r = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * (F.col("cumt") - F.col("ct")) + F.col("ct") + 1)
        ).alias("two_r1")
    )
    j = r.crossJoin(F.broadcast(tot))
    two_u1 = (
        F.col("two_r1") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    ).cast("double")
    return j.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            two_u1
            / (2.0 * F.col("n1").cast("double") * F.col("n0").cast("double")),
            6,
        ).alias("auc"),
    )


@register(
    "agg_lift_chart",
    "L",
    oracle=f"""
        WITH {_SCORE_CTE},
        ranked AS (
            SELECT pos,
                   NTILE(10) OVER (ORDER BY score DESC, vec_id ASC) AS decile
            FROM scores
        ),
        per AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos
            FROM ranked GROUP BY decile
        ),
        tot AS (SELECT SUM(n_pos) AS tp, SUM(n) AS tn FROM per),
        cumu AS (
            SELECT p.decile, p.n, p.n_pos, t.tp, t.tn,
                   SUM(p.n_pos) OVER (ORDER BY p.decile) AS cum_pos
            FROM per p CROSS JOIN tot t
        )
        SELECT CAST(decile AS INT) AS decile, n, n_pos,
               ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS conversion_rate,
               ROUND(CAST(cum_pos AS DOUBLE) / tp, 6) AS cum_capture,
               ROUND((CAST(n_pos AS DOUBLE) / n)
                     / (CAST(tp AS DOUBLE) / tn), 6) AS lift
        FROM cumu
        ORDER BY decile
    """,
    doc=(
        "Decile lift chart (gain curve) for the class-0 centroid score: "
        "rank all vectors by the exact integer score, cut into 10 "
        "global deciles, and report per-decile conversion rate, "
        "cumulative capture, and lift vs the base rate — the campaign-"
        "targeting evaluation every scoring model ships with. The "
        "global decile cut rides the two-pass range-partitioned rank "
        "(ntile_expr closed form, no single-partition window over the "
        "data); the 10-row decile relation then folds its own "
        "cumulative on ONE collected array (the agg_survival_km "
        "pattern) so not even the summary needs an unpartitioned "
        "window. Integer counts throughout; three rounded divisions at "
        "the end."
    ),
)
def agg_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _class0_scores(spark, sf_dir)
    ranked = with_global_row_number(
        scores.select(
            "pos", "score", "vec_id"
        ),
        [F.col("score").desc(), F.col("vec_id").asc()],
        rn="_rn",
        total="_total",
    )
    decile = ntile_expr(F.col("_rn"), F.col("_total"), 10)
    per = (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    one = per.agg(
        F.sort_array(F.collect_list(F.struct("decile", "n", "n_pos"))).alias(
            "g"
        )
    )
    n = F.size(F.col("g"))
    cum = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(F.col("g"), 1, i),
            F.lit(0).cast("bigint"),
            lambda a, s: a + s["n_pos"],
        ),
    )
    tp = F.aggregate(
        F.col("g"), F.lit(0).cast("bigint"), lambda a, s: a + s["n_pos"]
    )
    tn = F.aggregate(
        F.col("g"), F.lit(0).cast("bigint"), lambda a, s: a + s["n"]
    )
    rows = one.select(
        F.posexplode(
            F.zip_with(
                F.col("g"),
                cum,
                lambda s, c: F.struct(
                    s["decile"].alias("decile"),
                    s["n"].alias("n"),
                    s["n_pos"].alias("n_pos"),
                    c.alias("cum_pos"),
                ),
            )
        ).alias("_i", "row"),
        tp.alias("tp"),
        tn.alias("tn"),
    )
    rate = F.col("row.n_pos").cast("double") / F.col("row.n")
    return rows.select(
        F.col("row.decile").cast("int").alias("decile"),
        F.col("row.n").alias("n"),
        F.col("row.n_pos").alias("n_pos"),
        F.round(rate, 6).alias("conversion_rate"),
        F.round(F.col("row.cum_pos").cast("double") / F.col("tp"), 6).alias(
            "cum_capture"
        ),
        F.round(
            rate / (F.col("tp").cast("double") / F.col("tn")), 6
        ).alias("lift"),
    ).orderBy("decile")


@register(
    "mkt_item_similarity",
    "L",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        ic AS (SELECT l_partkey, COUNT(*) AS ci FROM items GROUP BY 1),
        pairs AS (
            SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS cij
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        sym AS (
            SELECT i, j, cij FROM pairs
            UNION ALL
            SELECT j, i, cij FROM pairs
        ),
        scored AS (
            SELECT s.i AS item, s.j AS neighbor,
                   CAST(s.cij AS BIGINT) AS n_coorders,
                   ROUND(CAST(s.cij AS DOUBLE)
                         / sqrt(CAST(a.ci AS DOUBLE) * CAST(b.ci AS DOUBLE)),
                         6) AS cos_sim
            FROM sym s
            JOIN ic a ON a.l_partkey = s.i
            JOIN ic b ON b.l_partkey = s.j
        )
        SELECT item, neighbor, n_coorders, cos_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY item
                   ORDER BY cos_sim DESC, neighbor ASC) AS INT) AS sim_rank
        FROM scored
        QUALIFY sim_rank <= 5
    """,
    doc=(
        "ITEM-ITEM COLLABORATIVE FILTERING (Sarwar et al., WWW 2001 / "
        "the Amazon item-to-item recommender): parts scored by cosine "
        "over order co-occurrence — sim(i,j) = c_ij/√(c_i·c_j) — with "
        "the top-5 neighbor list per item that a recommender serves. "
        "Complements mkt_basket_rules (support/confidence/lift keep "
        "directionality; cosine is the symmetric-normalized ranking "
        "form). Pair space is per-basket (Σ|basket|², the basket-rules "
        "bound — never a global item cross join); c_ij ≥ 2 support "
        "floor; the c_i marginals join back broadcast-ably. The only "
        "float is one division by one sqrt over exact BIGINTs — "
        "identical expression both engines — and ranking uses the "
        "rounded score with a neighbor-id tiebreak (§2.0 rule 4)."
    ),
)
def mkt_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # Feeds the self-join (twice) and the marginal counts.
        .transform(checkpoint)
    )
    ic = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("ci"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("i"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("j"))
    # r12 (guide §2.4 shared exchange, the graph_label_propagation move):
    # the former i<j pairs + unionAll(swap) ran the WHOLE basket
    # self-join and pair aggregate TWICE (each union branch is its own
    # tower — no subtree reuse), then paid a third exchange for the
    # top-5 window. The dual-direction aggregate (i≠j) computes `sym`
    # in ONE pass, and repartition("i") lets HashPartitioning(i) satisfy
    # both the (i, j) aggregate's clustered distribution and the window
    # partitionBy(item) — plan 5 → 3 exchanges, 8 → 6 HashAggregates.
    # Interleaved A/B at sf0.1: 1.476 → 1.362 s median, 6/6 pairwise
    # wins, identical output (exceptAll both ways = 0). The intermediate
    # step (dual-direction WITHOUT the repartition) measured SLOWER
    # (1.68 median, 0/6) — the fusion is what pays, not the dedup alone.
    # Skew caveat (same as LPA): repartition("i") trades away map-side
    # partial aggregation, shuffling raw pair-expansion rows by item;
    # on a power-law item-popularity corpus at cluster scale, re-measure
    # before relying on the fusion (revert = i<j + unionAll form).
    sym = (
        a.join(b, "l_orderkey")
        .filter(F.col("i") != F.col("j"))
        .repartition("i")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cij"))
        .filter(F.col("cij") >= 2)
    )
    scored = (
        sym.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("i"), F.col("ci").alias("ci_i"))),
            "i",
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("j"), F.col("ci").alias("ci_j"))),
            "j",
        )
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("cij").cast("bigint").alias("n_coorders"),
            F.round(
                F.col("cij").cast("double")
                / F.sqrt(F.col("ci_i").cast("double") * F.col("ci_j").cast("double")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sim_rank") <= 5)
    )


@register(
    "mkt_basket_triples",
    "L",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, p.p_brand AS item
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
        ic AS (SELECT item, COUNT(*) AS c1 FROM items GROUP BY item),
        triples AS (
            SELECT a.item AS x, b.item AS y, c.item AS z,
                   COUNT(*) AS c3
            FROM items a
            JOIN items b ON b.l_orderkey = a.l_orderkey AND a.item < b.item
            JOIN items c ON c.l_orderkey = a.l_orderkey AND b.item < c.item
            GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
        )
        SELECT t.x, t.y, t.z, CAST(t.c3 AS BIGINT) AS support,
               ROUND(
                   (CAST(t.c3 AS DOUBLE) * n.n_orders * n.n_orders)
                   / (CAST(cx.c1 AS DOUBLE) * cy.c1 * cz.c1), 6) AS lift3
        FROM triples t
        JOIN ic cx ON cx.item = t.x
        JOIN ic cy ON cy.item = t.y
        JOIN ic cz ON cz.item = t.z
        CROSS JOIN n
    """,
    doc=(
        "3-ITEMSET association mining (the Apriori depth-3 step — "
        "Agrawal & Srikant, VLDB 1994) over brand baskets: ordered "
        "x<y<z triples co-occurring in ≥3 orders, scored by the "
        "3-way lift c_xyz·N²/(c_x·c_y·c_z) against full independence — "
        "the step after mkt_basket_rules' pairs when pair lift alone "
        "can't separate genuine triple affinity from two strong pairs. "
        "Candidate space is per-basket (Σ|basket|³ with the a<b<c "
        "orientation — the graph_triangle_count join shape applied to "
        "baskets, never a global item³ cross join); brands (≤25) keep "
        "basket width bounded. Lift is one fixed-order double "
        "expression over exact BIGINTs."
    ),
)
def mkt_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("item"))
        .distinct()
        .transform(checkpoint)  # 3 join branches + marginals + N
    )
    n = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ic = items.groupBy("item").agg(F.count(F.lit(1)).alias("c1"))
    a = items.select("l_orderkey", F.col("item").alias("x"))
    b = items.select("l_orderkey", F.col("item").alias("y"))
    c = items.select("l_orderkey", F.col("item").alias("z"))
    triples = (
        a.join(b, "l_orderkey")
        .filter(F.col("x") < F.col("y"))
        .join(c, "l_orderkey")
        .filter(F.col("y") < F.col("z"))
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).alias("c3"))
        .filter(F.col("c3") >= 3)
    )
    return (
        triples.join(
            F.broadcast(ic.select(F.col("item").alias("x"), F.col("c1").alias("cx"))), "x"
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("y"), F.col("c1").alias("cy"))), "y"
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("z"), F.col("c1").alias("cz"))), "z"
        )
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            "z",
            F.col("c3").cast("bigint").alias("support"),
            F.round(
                (
                    F.col("c3").cast("double")
                    * F.col("n_orders")
                    * F.col("n_orders")
                )
                / (
                    F.col("cx").cast("double") * F.col("cy") * F.col("cz")
                ),
                6,
            ).alias("lift3"),
        )
    )


@register(
    "mkt_sequential_patterns",
    "L",
    oracle="""
        WITH items AS (
            SELECT DISTINCT o.o_custkey AS c, p.p_brand AS item,
                   o.o_orderdate AS d
            FROM orders o
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN part p ON p.p_partkey = l.l_partkey
        ),
        seqs AS (
            SELECT DISTINCT a.c, a.item AS antecedent, b.item AS consequent
            FROM items a
            JOIN items b ON b.c = a.c AND b.d > a.d
                        AND b.item <> a.item
        ),
        sup AS (
            SELECT antecedent, consequent,
                   CAST(COUNT(*) AS BIGINT) AS seq_support
            FROM seqs GROUP BY 1, 2 HAVING COUNT(*) >= 5
        ),
        ic AS (
            SELECT item, CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cust
            FROM items GROUP BY item
        )
        SELECT s.antecedent, s.consequent, s.seq_support,
               ia.n_cust AS n_antecedent,
               ROUND(CAST(s.seq_support AS DOUBLE) / ia.n_cust, 6)
                   AS confidence
        FROM sup s JOIN ic ia ON ia.item = s.antecedent
    """,
    doc=(
        "SEQUENTIAL PATTERN MINING, length-2 (AprioriAll — Agrawal & "
        "Srikant, ICDE 1995): brand A → brand B where the same customer "
        "orders A strictly BEFORE a later order containing B, with "
        "support = customers exhibiting the sequence (≥5) and "
        "confidence = support / customers-ever-buying-A. The temporal "
        "sibling of mkt_basket_rules: baskets ask 'together', sequences "
        "ask 'then', the shape behind next-purchase recommendation and "
        "churn-precursor mining. Determinism: strict date inequality "
        "needs no tiebreak (equal-date pairs are excluded BOTH ways, "
        "symmetric in both engines); all counts exact BIGINTs; the one "
        "double is the final round-6 ratio. Plan: the (customer, brand, "
        "date) item set materializes once (checkpoint — both pair "
        "branches and the antecedent marginal reuse it); the sequence "
        "join is keyed on the CUSTOMER (Σ per-customer item-pairs, "
        "linear in customers for bounded purchase history, never a "
        "global brand² cross join); brands (≤25) bound the output. At "
        "100 TB the same plan holds — the customer-keyed shuffle is the "
        "partitioning, and skew = one customer's history, bounded."
    ),
)
def mkt_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("p_brand").alias("item"),
            F.col("o_orderdate").alias("d"),
        )
        .distinct()
        .transform(checkpoint)  # 2 pair branches + marginal
    )
    a = items.select("c", F.col("item").alias("antecedent"), F.col("d").alias("da"))
    b = items.select("c", F.col("item").alias("consequent"), F.col("d").alias("db"))
    seqs = (
        a.join(b, "c")
        .filter((F.col("db") > F.col("da")) & (F.col("consequent") != F.col("antecedent")))
        .select("c", "antecedent", "consequent")
        .distinct()
    )
    sup = (
        seqs.groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("seq_support"))
        .filter(F.col("seq_support") >= 5)
    )
    ic = (
        items.select("item", "c")
        .distinct()
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    )
    return (
        sup.join(
            F.broadcast(ic.select(F.col("item").alias("antecedent"),
                                  F.col("n_cust").alias("n_antecedent"))),
            "antecedent",
        )
        .select(
            "antecedent",
            "consequent",
            "seq_support",
            "n_antecedent",
            F.round(
                F.col("seq_support").cast("double") / F.col("n_antecedent"), 6
            ).alias("confidence"),
        )
    )


@register(
    "mkt_interval_scheduling",
    "L",
    oracle="""
        WITH RECURSIVE iv AS (
            SELECT o.o_custkey AS c,
                   CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                       AS s,
                   CAST(MAX(epoch_us(l.l_shipdate) // 86400000000)
                        AS BIGINT) AS e
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
        ),
        h AS (
            SELECT c,
                   list({'e': e, 's': s} ORDER BY e, s) AS ivs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM iv GROUP BY c
        ),
        r AS (
            SELECT c, ivs, n, 1 AS i,
                   CAST(1 AS BIGINT) AS picked,
                   ivs[1].e AS last_e
            FROM h
            UNION ALL
            SELECT c, ivs, n, i + 1,
                   picked + CASE WHEN ivs[i + 1].s > last_e
                                 THEN 1 ELSE 0 END,
                   CASE WHEN ivs[i + 1].s > last_e
                        THEN ivs[i + 1].e ELSE last_e END
            FROM r WHERE i < n
        )
        SELECT c AS custkey, n AS n_orders, picked AS max_nonoverlap,
               ROUND(CAST(picked AS DOUBLE) / n, 6) AS schedulable_frac
        FROM r WHERE i = n
    """,
    doc=(
        "INTERVAL SCHEDULING / activity selection (the earliest-"
        "deadline-first greedy, optimal by the classic exchange "
        "argument — CLRS §15.1): each order spans its fulfillment "
        "window [order day, last ship day], and per customer the fold "
        "picks the maximum set of NON-overlapping windows — the "
        "capacity question ('how many of this account's orders could "
        "one sequential resource serve?') that also powers meeting-"
        "room, ad-slot, and batch-window packing. Greedy order is the "
        "(end, start) total order; an interval is taken when its "
        "start strictly clears the last taken end. ALL-INTEGER: epoch-"
        "day bounds via integer div (the midnight-boundary rule), "
        "counts exact, the one double a round-6 fraction. Plan: one "
        "per-order aggregate, then the per-customer O(n log n) "
        "sort-fold — parallelism = customer count, no window, no "
        "cross-customer state."
    ),
)
def mkt_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.expr("unix_micros(o_orderdate) div 86400000000")
        .cast("bigint")
        .alias("s"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("unix_micros(l_shipdate) div 86400000000")
        .cast("bigint")
        .alias("sd"),
    )
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", "s")
        .agg(F.max("sd").cast("bigint").alias("e"))
        .select(F.col("o_custkey").alias("c"), "s", "e")
    )
    h = iv.groupBy("c").agg(
        F.sort_array(F.collect_list(F.struct("e", "s"))).alias("ivs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ivs = F.col("ivs")

    def step(acc, x):
        take = x["s"] > acc["last_e"]
        return F.struct(
            (acc["picked"] + F.when(take, 1).otherwise(0)).alias("picked"),
            F.when(take, x["e"]).otherwise(acc["last_e"]).alias("last_e"),
        )

    folded = F.aggregate(
        F.slice(ivs, 2, F.size(ivs) - 1),
        F.struct(
            F.lit(1).cast("bigint").alias("picked"),
            F.element_at(ivs, 1)["e"].alias("last_e"),
        ),
        step,
    )
    return h.select(
        F.col("c").alias("custkey"),
        F.col("n").alias("n_orders"),
        folded["picked"].alias("max_nonoverlap"),
        F.round(folded["picked"].cast("double") / F.col("n"), 6).alias(
            "schedulable_frac"
        ),
    )
