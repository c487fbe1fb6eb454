"""Category D — aggregations (SURVEY.md §2.D).

All money aggregates follow the §2.0 determinism rules: DECIMAL(18,2) sums
(exact, order-independent) cast to DOUBLE, averages as exact-sum/count,
statistics rounded at the final projection.

Scale posture: every query is a single hash-aggregate with map-side partial
aggregation (Spark splits partial/final automatically); group keys are
low-cardinality except `agg_sort_fallback` which deliberately aggregates on a
high-cardinality key to exercise the spillable sort-agg path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.plans.determinism import (
    DEC,
    cents,
    dec2,
    money_sum_fast,
)
from big_data_management_and_analytics_spark.functions.portable_hash import (
    SQL_G0,
    SQL_G1,
    sql_mix,
)
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    load,
    local_frame,
    register_views,
)

PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_pricing_summary",
    "D",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped multi-function hash aggregate (the flagship).",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    # Fixed-point fast path (determinism.py): per-row arithmetic in integer
    # cents (pure long codegen — the expensive part), product terms
    # accumulated in DECIMAL so the sum is overflow-free and the final
    # cents→dollars conversion rounds exactly once. Bit-identical to the
    # all-DECIMAL formulation the oracle uses; ~2× faster at sf0.1.
    pc = cents("l_extendedprice")
    dc = cents("l_discount")  # discount in hundredths (0..10)
    tc = cents("l_tax")
    qc = cents("l_quantity")
    disc_prod = (pc * (100 - dc)).cast("decimal(28,0)")
    charge_prod = (pc * (100 - dc) * (100 + tc)).cast("decimal(28,0)")
    n = F.count(F.lit(1))
    sum_qty = F.sum(qc) / 100.0
    sum_price = F.sum(pc) / 100.0
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        (F.sum(disc_prod) / F.lit(10000)).cast("double").alias("sum_disc_price"),
        (F.sum(charge_prod) / F.lit(1000000)).cast("double").alias("sum_charge"),
        (sum_qty / n).alias("avg_qty"),
        (sum_price / n).alias("avg_price"),
        ((F.sum(dc) / 100.0) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "agg_global",
    "D",
    oracle="""
        SELECT
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
            MIN(o_orderdate) AS first_order,
            MAX(o_orderdate) AS last_order
        FROM orders
    """,
    doc="Grand-total aggregate without grouping keys.",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum_fast("o_totalprice", "total_revenue"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "agg_count_distinct",
    "D",
    oracle="SELECT COUNT(DISTINCT o_custkey) AS n_customers FROM orders",
    doc="Exact distinct count (expand-based distinct aggregation).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )


@register(
    "agg_multi_distinct",
    "D",
    oracle="""
        SELECT
            l_returnflag,
            COUNT(DISTINCT l_partkey) AS n_parts,
            COUNT(DISTINCT l_suppkey) AS n_suppliers,
            COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Multiple distinct aggregates in one GROUP BY (Expand-based plan).",
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_having",
    "D",
    oracle="""
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 12
    """,
    doc="Post-aggregation filter (HAVING).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


_GROUPING_SETS_SQL = """
    SELECT
        r_name,
        n_name,
        CAST(GROUPING(r_name) AS INT) AS g_region,
        CAST(GROUPING(n_name) AS INT) AS g_nation,
        COUNT(*) AS n_customers,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


@register(
    "agg_grouping_sets",
    "D",
    oracle=_GROUPING_SETS_SQL,
    doc="GROUPING SETS with GROUPING() flags (SQL entry point both sides).",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("customer", "nation", "region"))
    return spark.sql(_GROUPING_SETS_SQL)


def _cust_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)


@register(
    "agg_rollup",
    "D",
    oracle="""
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical subtotals region→nation via rollup.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cust_geo(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum_fast("c_acctbal", "sum_acctbal"),
        )
    )


@register(
    "agg_cube",
    "D",
    oracle="""
        SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
    doc="All subtotal combinations via cube.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum_fast("o_totalprice", "sum_price"),
        )
    )


@register(
    "agg_conditional",
    "D",
    oracle="""
        SELECT
            l_returnflag,
            COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 FILTER (WHERE l_quantity >= 25) AS DOUBLE) AS bulk_revenue,
            CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 FILTER (WHERE l_returnflag = 'A'), 0) AS DOUBLE) AS returned_revenue
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Filtered/conditional aggregation (sum(CASE WHEN …)).",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.sum(F.when(F.col("l_quantity") >= 25, dec2("l_extendedprice")))
        .cast("double")
        .alias("bulk_revenue"),
        F.coalesce(
            F.sum(F.when(F.col("l_returnflag") == "A", dec2("l_extendedprice"))),
            F.lit(0).cast(DEC),
        )
        .cast("double")
        .alias("returned_revenue"),
    )


@register(
    "agg_pivot",
    "D",
    oracle="""
        SELECT
            user_id,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS error,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS view
        FROM events
        GROUP BY user_id
    """,
    doc="Pivot with explicit value list (deterministic column set).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", PIVOT_EVENT_TYPES)
        .agg((F.sum(cents("value")) / 100.0))
    )


@register(
    "agg_unpivot",
    "D",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        FROM lineitem WHERE l_orderkey <= 2000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey <= 2000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey <= 2000
    """,
    doc=(
        "Unpivot (melt) — the inverse of agg_pivot: wide metrics → long "
        "rows. The oracle is a manual UNION ALL rather than DuckDB UNPIVOT "
        "because UNPIVOT drops NULL values while Spark's unpivot keeps "
        "them — UNION ALL matches Spark's null-preserving semantics."
    ),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "agg_sample_deterministic",
    "D",
    doc=(
        "Seeded Bernoulli sample — deterministic within Spark for a fixed "
        "seed/partitioning but not reproducible by another engine, hence "
        "rows-tier. The pipeline primitive for corpus subsampling."
    ),
)
def agg_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@register(
    "agg_stats",
    "D",
    oracle="""
        SELECT
            l_returnflag,
            ROUND(STDDEV_SAMP(l_quantity), 4) AS std_qty,
            ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
            ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
            ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS covar_qty_disc
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Statistical aggregates, rounded to 4 digits (§2.0 rule 2).",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
    )


@register(
    "agg_percentile_exact",
    "D",
    oracle="""
        SELECT
            l_returnflag,
            ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS median_qty,
            ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY l_quantity), 4) AS p90_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (Spark percentile ≡ percentile_cont).",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
    )


@register(
    "agg_argmax",
    "D",
    oracle="""
        SELECT n_name, c_name AS top_customer, c_acctbal AS top_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC
        ) = 1
    """,
    doc="Row-value at extremum via max_by with a struct tiebreak (c_custkey).",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    # max_by over (acctbal, -custkey) == highest balance, lowest key on ties.
    ordering = F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("neg_key"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", ordering).alias("top_customer"),
            F.max("c_acctbal").alias("top_acctbal"),
        )
    )


@register(
    "agg_collect_sorted",
    "D",
    oracle="""
        SELECT
            c_mktsegment,
            STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
            COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc=(
        "Set aggregation, canonically sorted (§2.0 rule 6); serialized to a "
        "joined string so the hash is container-independent."
    ),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_mode_median",
    "D",
    oracle="""
        SELECT
            MODE(o_orderpriority) AS mode_priority,
            ROUND(MEDIAN(o_totalprice), 2) AS median_price
        FROM orders
    """,
    doc="mode + median (tie-free at fixture scale; verified at build time).",
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.mode("o_orderpriority").alias("mode_priority"),
        F.round(F.median("o_totalprice"), 2).alias("median_price"),
    )


@register(
    "agg_approx_distinct",
    "D",
    doc="HyperLogLog distinct — approximate, rows-tier (§2.0 rule 8).",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


@register(
    "agg_sort_fallback",
    "D",
    oracle="""
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS order_value
        FROM lineitem
        GROUP BY l_orderkey
    """,
    doc=(
        "High-cardinality grouping (one group per order) — exercises the "
        "spillable aggregation path. Oracle-tier: exact cents sums make "
        "the full per-order table hash-comparable, so the spill path is "
        "verified on VALUES, not just shape."
    ),
)
def agg_sort_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum_fast("l_extendedprice", "order_value"),
        )
    )


@register(
    "agg_bool_countif",
    "D",
    oracle="""
        SELECT o_orderpriority,
               CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderstatus = 'F') AS any_finished
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc=(
        "Predicate aggregates: count_if / bool_and / bool_or per priority "
        "(all map-side combinable; one shuffle on the group key)."
    ),
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
    )


@register(
    "agg_histogram",
    "D",
    oracle="""
        SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bucket,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS bucket_total
        FROM orders
        GROUP BY 1
    """,
    doc=(
        "Equi-width histogram: 12 fixed 50k-wide price buckets (top bucket "
        "open-ended). Fixed bucket edges — no data-dependent min/max pass — "
        "so it is one map-side-combined aggregation; the standard first "
        "profiling query on a 100 TB table."
    ),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11))
    return (
        o.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum_fast("o_totalprice", "bucket_total"),
        )
    )


@register(
    "agg_approx_percentile",
    "D",
    doc=(
        "approx_percentile (GK sketch): mergeable partial sketches, one "
        "pass, bounded memory — the 100 TB alternative to the exact "
        "percentile's full sort. Approximate → rows-tier (§2.0.8)."
    ),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias(
            "approx_p90"
        ),
    )


@register(
    "agg_sample_stratified",
    "D",
    doc=(
        "Stratified sampling (sampleBy): per-stratum Bernoulli fractions "
        "with a fixed seed — balances a skewed training mix without a "
        "shuffle (row-local coin flips). Sampling → rows-tier."
    ),
)
def agg_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sampled = ev.sampleBy(
        "event_type",
        fractions={"click": 0.1, "view": 0.2, "purchase": 1.0},
        seed=42,
    )
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "agg_listagg",
    "D",
    oracle="""
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    doc=(
        "Ordered string aggregation: listagg WITHIN GROUP (ORDER BY) ≡ "
        "string_agg(... ORDER BY) — deterministic because the intra-group "
        "order is total (§2.0.6)."
    ),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations_csv"
            )
        )
    )


@register(
    "agg_regr",
    "D",
    oracle="""
        SELECT l_returnflag,
               CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n,
               ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
               ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS intercept,
               ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
               ROUND(REGR_AVGX(l_extendedprice, l_quantity), 4) AS avg_x,
               ROUND(REGR_AVGY(l_extendedprice, l_quantity), 2) AS avg_y
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc=(
        "Linear-regression aggregate family (slope/intercept/R2/avgx/avgy) "
        "of price on quantity per return flag. Both engines accumulate in "
        "double; terminal rounding absorbs summation-order noise "
        "(validated across shuffle-partition sweeps)."
    ),
)
def agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 2).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 4).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 2).alias("avg_y"),
    )


@register(
    "agg_moments",
    "D",
    oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(qc) AS DOUBLE) AS s1,
                   CAST(SUM(qc * qc) AS DOUBLE) AS s2,
                   CAST(SUM(qc * qc * qc) AS DOUBLE) AS s3,
                   CAST(SUM((qc * qc) * (qc * qc)) AS DOUBLE) AS s4
            FROM (SELECT l_returnflag,
                         CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc
                  FROM lineitem)
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                     / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skew_pop,
               ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                     / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
                     - 3, 6) AS kurt_excess
        FROM m
    """,
    doc=(
        "Higher-moment statistics: population skewness and excess kurtosis "
        "of l_quantity per return flag. Moment sums accumulate as EXACT "
        "integers (cents; 4th power widened to decimal(28,0) on Spark / "
        "HUGEINT on DuckDB), then both sides apply the identical algebraic "
        "raw-moment formula in double - bit-equal before the terminal "
        "round. Order-independent at any partition count, unlike naive "
        "double skewness/kurtosis accumulation."
    ),
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qc = cents("l_quantity")
    base = li.select("l_returnflag", qc.alias("qc"))
    q2 = F.col("qc") * F.col("qc")
    m = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("qc").cast("double").alias("s1"),
        F.sum(q2).cast("double").alias("s2"),
        F.sum(q2 * F.col("qc")).cast("double").alias("s3"),
        F.sum((q2 * q2).cast("decimal(28,0)")).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3) * mean * (s2 / n) + F.lit(2) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4) * mean * (s3 / n)
        + F.lit(6) * mean * mean * (s2 / n)
        - F.lit(3) * mean * mean * mean * mean
    )
    return m.select(
        "l_returnflag",
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skew_pop"),
        F.round(m4 / (m2 * m2) - F.lit(3), 6).alias("kurt_excess"),
    )


@register(
    "agg_hll_sketch",
    "D",
    doc=(
        "Mergeable HyperLogLog sketches (Datasketches HLL, Spark 3.5+): "
        "per-event-type sketch of distinct users, estimated per group AND "
        "union-merged to a global estimate - the 100 TB distinct-counting "
        "pattern (sketches combine across partitions/days without rescans; "
        "register-max merge makes the estimate order-independent). "
        "Rows-tier per SURVEY 2.0.8: estimates are not exact counts; the "
        "exact distinct rides along for error inspection."
    ),
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
        "exact_users",
    )
    glob = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    ).select(
        F.lit("__all__").alias("event_type"),
        "approx_users",
        F.lit(None).cast("long").alias("exact_users"),
    )
    return est.unionByName(glob)


@register(
    "obs_metrics",
    "D",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
               CAST(count_if(value > 0) AS BIGINT) AS rows_kept,
               CAST(SUM(FLOOR(value * 100 + 0.5)) / 100.0 AS DOUBLE)
                   AS value_total,
               CAST(count_if(props IS NULL) AS BIGINT) AS null_props
        FROM events
    """,
    doc=(
        "Pipeline observability via df.observe(): a cleaning pass over "
        "events (drop non-positive values) streams once while an "
        "Observation accumulates rows-in, rows-kept, exact-cents value "
        "total, and null-prop count as side metrics - zero extra scans, "
        "the data-quality telemetry pattern for production pipelines. "
        "Returns the observed metrics as a one-row DataFrame; oracle-tier "
        "— the metric channel itself is value-checked (cents math makes "
        "the total exact)."
    ),
)
def obs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    e = load(spark, sf_dir, "events")
    obs = Observation("clean_metrics")
    cleaned = e.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("value") > 0, 1).otherwise(0)).alias("rows_kept"),
        (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / 100.0).alias(
            "value_total"
        ),
        F.sum(F.isnull("props").cast("int")).alias("null_props"),
    ).filter(F.col("value") > 0)
    cleaned.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [
            (
                int(m["rows_in"]),
                int(m["rows_kept"]),
                float(m["value_total"]),
                int(m["null_props"]),
            )
        ],
        "rows_in long, rows_kept long, value_total double, null_props long",
    )


@register(
    "agg_approx_topk",
    "D",
    doc=(
        "approx_top_k (Spark 4.1 sketch-backed heavy hitters): top-5 words "
        "across the document corpus without a full groupBy - the "
        "frequent-items pattern for 100 TB vocabularies where an exact "
        "global count would shuffle every distinct token. Struct output is "
        "flattened via inline(). Rows-tier per SURVEY 2.0.8 (approximate); "
        "the estimates are checked against exact counts in tests at small "
        "sf where the sketch is exact."
    ),
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    )
    words.createOrReplaceTempView("bdma_topk_words")
    return spark.sql(
        """
        SELECT inline(approx_top_k(word, 5))
        FROM bdma_topk_words
        """
    ).select(F.col("item").alias("word"), F.col("count").alias("n"))


@register(
    "agg_weighted_avg",
    "D",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
               ROUND(CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                               * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                     / (SUM(CAST(l_quantity AS BIGINT)) * 100.0), 4)
                   AS qty_weighted_avg_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc=(
        "Quantity-weighted average price per return flag — the weighted "
        "mean every pricing rollup needs, computed EXACTLY: integer cents "
        "× integer quantity summed as BIGINT (l_quantity is whole-valued "
        "in the fixture), one terminal double division — partition-order "
        "invariant with no decimal column in flight. Map-side combinable "
        "single shuffle."
    ),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    # Product terms accumulate in decimal(28,0) (cents×qty ≈ 5e8/row
    # would overflow a long sum around 2e10 rows); DuckDB's BIGINT sum
    # widens to HUGEINT, so both sides are exact until the one terminal
    # double division.
    wsum = F.sum((cents("l_extendedprice") * qty).cast("decimal(28,0)"))
    tot = F.sum(qty)
    return li.groupBy("l_returnflag").agg(
        tot.alias("total_qty"),
        F.round(wsum.cast("double") / (tot * 100.0), 4).alias(
            "qty_weighted_avg_price"
        ),
    )


@register(
    "agg_benford",
    "D",
    oracle="""
        WITH digits AS (
            SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                          1, 1) AS d
            FROM orders WHERE o_totalprice >= 1
        )
        SELECT d AS leading_digit,
               COUNT(*) AS n,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (), 6) AS observed,
               ROUND(log10(1.0 + 1.0 / CAST(d AS INT)), 6) AS benford_expected
        FROM digits
        GROUP BY d
        ORDER BY d
    """,
    doc=(
        "Benford first-digit audit (fraud/quality analytics): leading "
        "digit taken from the DECIMAL string rendering — no float log10 "
        "of the value anywhere, so no boundary hazard at powers of ten — "
        "counted against the Benford expectation log10(1 + 1/d). One "
        "tiny groupBy + a 9-row window."
    ),
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
    w = Window.partitionBy()
    return (
        o.select(d.alias("leading_digit"))
        .groupBy("leading_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "leading_digit",
            "n",
            F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
                "observed"
            ),
            F.round(
                F.log10(1.0 + 1.0 / F.col("leading_digit").cast("int")), 6
            ).alias("benford_expected"),
        )
        .orderBy("leading_digit")
    )


@register(
    "agg_gini",
    "D",
    oracle="""
        WITH pos AS (
            SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
            FROM customer WHERE c_acctbal > 0
        ),
        ranked AS (
            SELECT bal,
                   ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS rn
            FROM pos
        )
        SELECT ROUND(
                   (2.0 * CAST(SUM(rn * bal) AS DOUBLE))
                       / (COUNT(*) * CAST(SUM(bal) AS DOUBLE))
                   - (COUNT(*) + 1.0) / COUNT(*),
               6) AS gini
        FROM ranked
    """,
    doc=(
        "Gini concentration index of positive account balances — the "
        "inequality audit of a spend distribution. The rank-weighted sum "
        "uses the engine's two-pass global row_number (range partitions "
        "+ driver-folded offsets, no single-partition window) and exact "
        "integer-cents products (rn·cents fits a long at any fixture "
        "scale); one terminal double expression in the same operation "
        "order as the oracle, rounded 6."
    ),
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_row_number,
    )

    pos = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_acctbal")
    )
    ranked = with_global_row_number(
        pos, [F.col("c_acctbal").asc(), F.col("c_custkey").asc()], rn="rn"
    )
    agg = ranked.agg(
        F.sum(F.col("rn") * cents("c_acctbal")).alias("srx_c"),
        F.sum(cents("c_acctbal")).alias("sx_c"),
        F.count(F.lit(1)).alias("n"),
    )
    gini = (
        (2.0 * (F.col("srx_c") / 100.0)) / (F.col("n") * (F.col("sx_c") / 100.0))
        - (F.col("n") + 1.0) / F.col("n")
    )
    return agg.select(F.round(gini, 6).alias("gini"))


@register(
    "dq_profile",
    "L",
    oracle="""
        WITH m AS (
            SELECT
                COUNT(*) AS n_rows,
                COUNT(*) - COUNT(o_orderkey) AS null_orderkey,
                COUNT(DISTINCT o_orderkey) AS dist_orderkey,
                CAST(MIN(o_orderkey) AS VARCHAR) AS min_orderkey,
                CAST(MAX(o_orderkey) AS VARCHAR) AS max_orderkey,
                COUNT(*) - COUNT(o_custkey) AS null_custkey,
                COUNT(DISTINCT o_custkey) AS dist_custkey,
                CAST(MIN(o_custkey) AS VARCHAR) AS min_custkey,
                CAST(MAX(o_custkey) AS VARCHAR) AS max_custkey,
                COUNT(*) - COUNT(o_orderstatus) AS null_status,
                COUNT(DISTINCT o_orderstatus) AS dist_status,
                CAST(MIN(o_orderstatus) AS VARCHAR) AS min_status,
                CAST(MAX(o_orderstatus) AS VARCHAR) AS max_status,
                COUNT(*) - COUNT(o_totalprice) AS null_price,
                COUNT(DISTINCT o_totalprice) AS dist_price,
                CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
                    AS min_price,
                CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
                    AS max_price,
                COUNT(*) - COUNT(o_orderpriority) AS null_prio,
                COUNT(DISTINCT o_orderpriority) AS dist_prio,
                CAST(MIN(o_orderpriority) AS VARCHAR) AS min_prio,
                CAST(MAX(o_orderpriority) AS VARCHAR) AS max_prio
            FROM orders
        )
        SELECT col_name, n_rows,
               CAST(n_null AS BIGINT) AS n_null,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               min_str, max_str
        FROM (
            SELECT 'o_orderkey' AS col_name, n_rows, null_orderkey AS n_null,
                   dist_orderkey AS n_distinct, min_orderkey AS min_str,
                   max_orderkey AS max_str FROM m
            UNION ALL
            SELECT 'o_custkey', n_rows, null_custkey, dist_custkey,
                   min_custkey, max_custkey FROM m
            UNION ALL
            SELECT 'o_orderstatus', n_rows, null_status, dist_status,
                   min_status, max_status FROM m
            UNION ALL
            SELECT 'o_totalprice', n_rows, null_price, dist_price,
                   min_price, max_price FROM m
            UNION ALL
            SELECT 'o_orderpriority', n_rows, null_prio, dist_prio,
                   min_prio, max_prio FROM m
        )
        ORDER BY col_name
    """,
    doc=(
        "Automated per-column data-quality profile of the orders table "
        "— row count, null count, exact distinct count, min/max (as "
        "canonical strings; doubles go through DECIMAL(18,2) so both "
        "engines print identical text) — the table-health report every "
        "warehouse catalog publishes, long-format one row per column. "
        "ALL metrics for ALL columns come from ONE aggregate pass over "
        "the table (Spark plans the multi-distinct via a single expand "
        "+ hash-agg), then a 5-row literal unpivot on the driver-side "
        "1-row result — no per-column rescans. Complements "
        "dq_constraint_audit (row-level rule violations) with "
        "column-level statistics. Scale: exact COUNT(DISTINCT) over "
        "high-cardinality keys is the declared exact form; at 100 TB "
        "swap in approx_count_distinct (agg_approx_distinct) — the "
        "plan shape (one pass, one row out per column) is unchanged."
    ),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("null_orderkey"),
        F.countDistinct("o_orderkey").alias("dist_orderkey"),
        F.min("o_orderkey").cast("string").alias("min_orderkey"),
        F.max("o_orderkey").cast("string").alias("max_orderkey"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        F.countDistinct("o_custkey").alias("dist_custkey"),
        F.min("o_custkey").cast("string").alias("min_custkey"),
        F.max("o_custkey").cast("string").alias("max_custkey"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("null_status"),
        F.countDistinct("o_orderstatus").alias("dist_status"),
        F.min("o_orderstatus").cast("string").alias("min_status"),
        F.max("o_orderstatus").cast("string").alias("max_status"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("null_price"),
        F.countDistinct("o_totalprice").alias("dist_price"),
        F.min("o_totalprice").cast(DEC).cast("string").alias("min_price"),
        F.max("o_totalprice").cast(DEC).cast("string").alias("max_price"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("null_prio"),
        F.countDistinct("o_orderpriority").alias("dist_prio"),
        F.min("o_orderpriority").cast("string").alias("min_prio"),
        F.max("o_orderpriority").cast("string").alias("max_prio"),
    )
    rows = [
        ("o_orderkey", "null_orderkey", "dist_orderkey", "min_orderkey", "max_orderkey"),
        ("o_custkey", "null_custkey", "dist_custkey", "min_custkey", "max_custkey"),
        ("o_orderstatus", "null_status", "dist_status", "min_status", "max_status"),
        ("o_totalprice", "null_price", "dist_price", "min_price", "max_price"),
        ("o_orderpriority", "null_prio", "dist_prio", "min_prio", "max_prio"),
    ]
    # Long format via explode of a literal struct array over the single
    # 1-row aggregate — a union of per-column projections would make
    # Catalyst re-plan (and re-scan) the aggregate once per column.
    profile = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("col_name"),
                    F.col(nn).cast("bigint").alias("n_null"),
                    F.col(nd).cast("bigint").alias("n_distinct"),
                    F.col(mn).alias("min_str"),
                    F.col(mx).alias("max_str"),
                )
                for name, nn, nd, mn, mx in rows
            ]
        )
    )
    return m.select("n_rows", profile.alias("p")).select(
        F.col("p.col_name").alias("col_name"),
        "n_rows",
        F.col("p.n_null").alias("n_null"),
        F.col("p.n_distinct").alias("n_distinct"),
        F.col("p.min_str").alias("min_str"),
        F.col("p.max_str").alias("max_str"),
    )


@register(
    "agg_entropy",
    "D",
    oracle="""
        WITH cnt AS (
            SELECT o_custkey, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2
        ),
        tot AS (
            SELECT o_custkey, c,
                   CAST(SUM(c) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
            FROM cnt
        )
        SELECT o_custkey,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(COUNT(*) AS BIGINT) AS n_categories,
               CAST(SUM(CAST(ROUND(
                       (CAST(c AS DOUBLE) / n)
                       * ln(CAST(n AS DOUBLE) / c), 6)
                    AS DECIMAL(28,6))) AS DOUBLE) AS entropy
        FROM tot
        GROUP BY o_custkey
        ORDER BY o_custkey
    """,
    doc=(
        "Shannon entropy of each customer's order-priority mix — the "
        "concentration/diversity profiler (0 = always the same "
        "priority, ln(5) = uniform over all five), the information-"
        "theoretic sibling of agg_hhi's sum-of-squares concentration. "
        "Each category contributes (c/n)·ln(n/c) — a NONNEGATIVE "
        "term built from two integers (so the single-category case is "
        "exactly ln(1)=0, never a −0.0 from catastrophic "
        "cancellation) — rounded to 6 digits and accumulated as "
        "DECIMAL(28,6) (exact, partition-order-invariant; the "
        "llm_text_perplexity quantization rule). One hash aggregate "
        "to (custkey, priority) counts, a custkey-partitioned window "
        "for the group total, then the per-custkey roll-up — "
        "map-side combinable, linear, no join."
    ),
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.withColumn(
        "n",
        F.sum("c").over(Window.partitionBy("o_custkey")).cast("bigint"),
    )
    term = (F.col("c").cast("double") / F.col("n")) * F.log(
        F.col("n").cast("double") / F.col("c")
    )
    return tot.groupBy("o_custkey").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(F.round(term, 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("entropy"),
    )


@register(
    "agg_countmin_sketch",
    "D",
    oracle=f"""
        WITH hashed AS (
            SELECT user_id,
                   {SQL_G0.format(col="CAST(user_id AS VARCHAR)")} AS g0,
                   {SQL_G1.format(col="CAST(user_id AS VARCHAR)")} AS g1
            FROM events
        ),
        buckets AS (
            SELECT user_id, d.i,
                   CASE d.i
                       WHEN 0 THEN {sql_mix(0)} % 32
                       WHEN 1 THEN {sql_mix(1)} % 32
                       WHEN 2 THEN {sql_mix(2)} % 32
                       ELSE {sql_mix(3)} % 32
                   END AS b
            FROM hashed
            CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) d
        ),
        sketch AS (
            SELECT i, b, CAST(COUNT(*) AS BIGINT) AS cell
            FROM buckets GROUP BY i, b
        ),
        probes AS (
            SELECT DISTINCT user_id, i, b FROM buckets
        ),
        est AS (
            SELECT p.user_id, MIN(s.cell) AS cms_est
            FROM probes p JOIN sketch s ON s.i = p.i AND s.b = p.b
            GROUP BY p.user_id
        ),
        exact AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM events GROUP BY user_id
        )
        SELECT e.user_id, e.exact_cnt, est.cms_est,
               est.cms_est - e.exact_cnt AS overestimate
        FROM exact e JOIN est USING (user_id)
        ORDER BY e.user_id
    """,
    doc=(
        "Count-min sketch frequency estimation over the event stream: "
        "a depth-4 × width-32 counter grid built in ONE pass (each "
        "record increments 4 cells chosen by the engine-portable "
        "universal-hash family of functions/portable_hash.py), probed "
        "with min-over-rows for every distinct user — reported beside "
        "the exact count so the one-sided overestimate (collision "
        "inflation, bounded by εN w.h.p.) is visible and hash-verified "
        "cross-engine, the same audit shape as llm_minhash_accuracy. "
        "Scale: the sketch IS the point — 128 cells of bounded state "
        "regardless of input size (vs the exact groupBy's "
        "per-key state), built by a map-side-combinable hash-agg on "
        "(depth, bucket) and broadcast back for the probe join; the "
        "per-record work is one md5 + 4 integer mixes, all "
        "whole-stage-codegen. The exact side here is the audit "
        "baseline, not part of the sketch path."
    ),
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.portable_hash import (
        P,
        mix_col,
        ph0_hex,
        ph1_hex,
    )

    W = 32
    e = load(spark, sf_dir, "events").select("user_id")
    hashed = e.select(
        "user_id", F.md5(F.col("user_id").cast("string")).alias("hx")
    ).select(
        "user_id",
        (ph0_hex(F.col("hx")) % P).alias("g0"),
        (ph1_hex(F.col("hx")) % P).alias("g1"),
    )
    buckets = hashed.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (mix_col(F.col("g0"), F.col("g1"), i) % W).alias("b"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("db"),
    ).select("user_id", F.col("db.i").alias("i"), F.col("db.b").alias("b"))
    sketch = buckets.groupBy("i", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell")
    )
    probes = buckets.select("user_id", "i", "b").distinct()
    est = (
        probes.join(
            F.broadcast(sketch.withColumnsRenamed({"i": "si", "b": "sb"})),
            (F.col("si") == F.col("i")) & (F.col("sb") == F.col("b")),
        )
        .groupBy("user_id")
        .agg(F.min("cell").alias("cms_est"))
    )
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    )


@register(
    "dq_join_skew",
    "L",
    oracle="""
        WITH freq AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f
            FROM events GROUP BY user_id
        ),
        tot AS (
            SELECT CAST(SUM(f) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(f) AS BIGINT) AS max_freq
            FROM freq
        )
        SELECT t.n_rows, t.n_keys, t.max_freq,
               ROUND(t.max_freq::DOUBLE / t.n_rows, 6) AS top1_share,
               CAST(COUNT(*) FILTER (WHERE q.f * t.n_keys > 2 * t.n_rows)
                    AS BIGINT) AS heavy_2x,
               CAST(COUNT(*) FILTER (WHERE q.f * t.n_keys > 4 * t.n_rows)
                    AS BIGINT) AS heavy_4x,
               CAST(COUNT(*) FILTER (WHERE q.f * t.n_keys > 8 * t.n_rows)
                    AS BIGINT) AS heavy_8x,
               CAST((t.max_freq * t.n_keys + t.n_rows - 1) // t.n_rows
                    AS BIGINT) AS salt_factor
        FROM freq q CROSS JOIN tot t
        GROUP BY t.n_rows, t.n_keys, t.max_freq
    """,
    doc=(
        "Join-key SKEW diagnostic — the report an engineer (or an "
        "auto-tuner) reads before choosing broadcast/salting/AQE for a "
        "shuffle join on this key: per-key frequencies reduced to row/"
        "key/max counts, the heaviest key's share, heavy-hitter counts "
        "at 2×/4×/8× the mean (decided by the exact integer cross-"
        "product f·n_keys > k·n_rows — no float mean), and the ceil "
        "salt factor join_salted_skew would need to level the hottest "
        "key. Plan: one partial-agg groupBy on the key, then a 1-row "
        "counters broadcast folded over the frequency table — the "
        "two-aggregate shape is linear and the second pass touches "
        "n_keys rows, not n_rows. Complements dq_profile (values) and "
        "dq_psi_drift (distribution shift) with the join-planning view."
    ),
)
def dq_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    tot = freq.agg(
        F.sum("f").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("f").cast("bigint").alias("max_freq"),
    )
    heavy = lambda k: F.sum(
        (F.col("f") * F.col("n_keys") > k * F.col("n_rows")).cast("bigint")
    ).cast("bigint")
    return (
        freq.crossJoin(F.broadcast(tot))
        .groupBy("n_rows", "n_keys", "max_freq")
        .agg(
            heavy(2).alias("heavy_2x"),
            heavy(4).alias("heavy_4x"),
            heavy(8).alias("heavy_8x"),
        )
        .select(
            "n_rows",
            "n_keys",
            "max_freq",
            F.round(
                F.col("max_freq").cast("double") / F.col("n_rows"), 6
            ).alias("top1_share"),
            "heavy_2x",
            "heavy_4x",
            "heavy_8x",
            F.expr(
                "CAST((max_freq * n_keys + n_rows - 1) DIV n_rows AS BIGINT)"
            ).alias("salt_factor"),
        )
    )


# Candidate FD pairs for dq_fd_mine: (table, determinant, dependent).
# A fixed audit list, like dq_constraint_audit's rule table — FD mining
# over ALL column pairs is quadratic in schema width and is run on a
# declared candidate set in practice (TANE prunes lattice levels the
# same way).
_FD_CANDIDATES = [
    ("customer", "c_custkey", "c_name"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_name", "c_custkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderpriority", "o_orderstatus"),
]


@register(
    "dq_fd_mine",
    "D",
    oracle="""
        WITH pairs AS (
            SELECT 'customer' AS tbl, 'c_custkey' AS det, 'c_name' AS dep,
                   CAST(c_custkey AS VARCHAR) AS a, CAST(c_name AS VARCHAR) AS b
            FROM customer
            UNION ALL
            SELECT 'customer', 'c_custkey', 'c_nationkey',
                   CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'customer', 'c_name', 'c_custkey',
                   CAST(c_name AS VARCHAR), CAST(c_custkey AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'customer', 'c_nationkey', 'c_mktsegment',
                   CAST(c_nationkey AS VARCHAR), CAST(c_mktsegment AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'customer', 'c_mktsegment', 'c_nationkey',
                   CAST(c_mktsegment AS VARCHAR), CAST(c_nationkey AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'orders', 'o_orderkey', 'o_custkey',
                   CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'orders', 'o_custkey', 'o_orderpriority',
                   CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'orders', 'o_orderpriority', 'o_orderstatus',
                   CAST(o_orderpriority AS VARCHAR), CAST(o_orderstatus AS VARCHAR)
            FROM orders
        ),
        grp AS (
            SELECT tbl, det, dep, a,
                   CAST(COUNT(DISTINCT b) AS BIGINT) AS nb
            FROM pairs GROUP BY 1, 2, 3, 4
        )
        SELECT tbl, det, dep,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating,
               CAST(MAX(nb) AS BIGINT) AS max_branch,
               CAST(CASE WHEN MAX(nb) = 1 THEN 1 ELSE 0 END AS INT)
                   AS fd_holds,
               ROUND(1.0 - CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END)
                                AS DOUBLE) / COUNT(*), 6) AS fd_strength
        FROM grp GROUP BY 1, 2, 3
    """,
    doc=(
        "FUNCTIONAL-DEPENDENCY MINING (TANE — Huhtala et al., Comput. "
        "J. 1999; the g3-style approximate-FD measure): for each "
        "candidate determinant→dependent pair, count determinant "
        "groups whose dependent branches (>1 distinct value), report "
        "whether the FD holds exactly and its violation-free group "
        "fraction — the profiling step schema-inference, key "
        "discovery, and normalization audits run before trusting a "
        "join key. Complements dq_profile (per-column stats) and "
        "dq_constraint_audit (asserted rules) with DISCOVERED rules. "
        "The candidate set is a declared lattice level (_FD_CANDIDATES "
        "— TANE prunes the same way; all-pairs is quadratic in schema "
        "width, not in rows). Determinism: counts only; the single "
        "double is the final round-6 fraction. Plan: one union of "
        "narrow projections, two hash-aggregate levels — group space "
        "is the determinant's distinct values per pair, work linear in "
        "rows, the classic two-level distinct-count shape that "
        "partial-aggregates map-side at any scale."
    ),
)
def dq_fd_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for tbl, det, dep in _FD_CANDIDATES:
        t = load(spark, sf_dir, tbl)
        parts.append(
            t.select(
                F.lit(tbl).alias("tbl"),
                F.lit(det).alias("det"),
                F.lit(dep).alias("dep"),
                F.col(det).cast("string").alias("a"),
                F.col(dep).cast("string").alias("b"),
            )
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionAll(p)
    grp = pairs.groupBy("tbl", "det", "dep", "a").agg(
        F.countDistinct("b").cast("bigint").alias("nb")
    )
    return grp.groupBy("tbl", "det", "dep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("nb") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating"),
        F.max("nb").cast("bigint").alias("max_branch"),
        F.when(F.max("nb") == 1, 1).otherwise(0).cast("int").alias("fd_holds"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(F.col("nb") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("fd_strength"),
    )


@register(
    "dq_simpson_audit",
    "D",
    oracle="""
        WITH base AS (
            SELECT p.p_brand AS stratum,
                   CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT) AS x,
                   CAST(l.l_quantity AS BIGINT) AS y
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        strat AS (
            SELECT stratum,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
            FROM base GROUP BY stratum
        ),
        signs AS (
            SELECT stratum, n,
                   CASE WHEN n * sxy - sx * sy > 0 THEN 1
                        WHEN n * sxy - sx * sy < 0 THEN -1
                        ELSE 0 END AS s
            FROM strat
        ),
        overall AS (
            SELECT CASE WHEN SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy) > 0
                            THEN 1
                        WHEN SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy) < 0
                            THEN -1
                        ELSE 0 END AS overall_sign
            FROM strat
        )
        SELECT 'l_discount~l_quantity/p_brand' AS relationship,
               o.overall_sign,
               CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CASE WHEN s.s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_positive,
               CAST(SUM(CASE WHEN s.s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_negative,
               CAST(CASE WHEN (o.overall_sign = 1
                               AND SUM(CASE WHEN s.s = 1 THEN 1 ELSE 0 END) = 0
                               AND SUM(CASE WHEN s.s = -1 THEN 1 ELSE 0 END) > 0)
                          OR (o.overall_sign = -1
                               AND SUM(CASE WHEN s.s = -1 THEN 1 ELSE 0 END) = 0
                               AND SUM(CASE WHEN s.s = 1 THEN 1 ELSE 0 END) > 0)
                         THEN 1 ELSE 0 END AS INT) AS paradox_flag
        FROM signs s CROSS JOIN overall o
        GROUP BY o.overall_sign
    """,
    doc=(
        "SIMPSON'S PARADOX audit (Simpson, JRSS-B 1951; the aggregation "
        "trap every metrics review gets burned by): compare the SIGN of "
        "the discount→quantity association overall against its sign "
        "inside every brand stratum, and flag when the overall trend "
        "points one way while NO stratum agrees — the canonical "
        "confounded-aggregate smell that says 'never trust the pooled "
        "slope'. Signs come from the numerator n·Σxy − Σx·Σy alone "
        "(the denominator of the regression slope is positive), "
        "computed in exact integers with the moment sums pre-cast to "
        "DECIMAL(38,0) before the cross-products (the events_bot_score "
        "overflow rule — cents·quantity moments at 100 TB exceed "
        "int64); there is NO float anywhere in the operator, not even "
        "a rounded one. Plan: one broadcast-dim join, one hash "
        "aggregate per stratum, then a 25-row fold — the dq_profile "
        "cost shape, linear and partial-aggregable at any scale."
    ),
)
def dq_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_discount").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("stratum"), "x", "y"
    )
    strat = base.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    signs = strat.select(
        "stratum",
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0).alias("s"),
    )
    onum = (
        F.sum("n") * F.sum("sxy") - F.sum("sx") * F.sum("sy")
    )
    overall = strat.agg(
        F.when(onum > 0, 1).when(onum < 0, -1).otherwise(0).alias(
            "overall_sign"
        )
    )
    n_pos = F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
    return (
        signs.crossJoin(F.broadcast(overall))
        .groupBy("overall_sign")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
            n_pos.cast("bigint").alias("n_positive"),
            n_neg.cast("bigint").alias("n_negative"),
            F.when(
                ((F.max("overall_sign") == 1) & (n_pos == 0) & (n_neg > 0))
                | ((F.max("overall_sign") == -1) & (n_neg == 0) & (n_pos > 0)),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("paradox_flag"),
        )
        .select(
            F.lit("l_discount~l_quantity/p_brand").alias("relationship"),
            "overall_sign",
            "n_strata",
            "n_positive",
            "n_negative",
            "paradox_flag",
        )
    )


@register(
    "agg_bayes_shrinkage",
    "D",
    oracle="""
        WITH base AS (
            SELECT p.p_brand AS brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS r
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1
        )
        SELECT brand, n, r,
               ROUND(CAST(r AS DOUBLE) / n, 6) AS raw_rate,
               ROUND((CAST(r AS DOUBLE) + 2.0) / (n + 20.0), 6)
                   AS posterior_rate,
               ROUND((CAST(r AS DOUBLE) + 2.0) / (n + 20.0)
                     - CAST(r AS DOUBLE) / n, 6) AS shrinkage
        FROM base
    """,
    doc=(
        "EMPIRICAL-BAYES RATE SHRINKAGE (Beta-Binomial conjugacy; the "
        "James-Stein lesson applied to every small-sample rate "
        "leaderboard): each brand's return rate is smoothed toward a "
        "declared Beta(2, 18) prior (mean 0.1) via the exact "
        "posterior mean (r+α)/(n+α+β) — the standard fix for "
        "low-volume groups topping raw-rate rankings on noise "
        "(CTR smoothing, review scores, defect rates all use this "
        "identical formula). Determinism: r and n are exact BIGINTs; "
        "the three outputs are fixed-order round-6 rationals — no "
        "iteration, no libm. Plan: one broadcast-dim join + one hash "
        "aggregate; linear, partial-aggregable, the cheapest shape."
    ),
)
def agg_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("r"),
        )
    )
    raw = F.col("r").cast("double") / F.col("n")
    post = (F.col("r").cast("double") + F.lit(2.0)) / (
        F.col("n") + F.lit(20.0)
    )
    return base.select(
        "brand",
        "n",
        "r",
        F.round(raw, 6).alias("raw_rate"),
        F.round(post, 6).alias("posterior_rate"),
        F.round(post - raw, 6).alias("shrinkage"),
    )


@register(
    "mkt_price_elasticity",
    "L",
    oracle="""
        WITH base AS (
            SELECT p.p_brand AS brand,
                   CASE WHEN CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT)
                             <= 5 THEN 0 ELSE 1 END AS band,
                   CAST(l.l_quantity AS BIGINT) AS q,
                   CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT) AS dc
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        g AS (
            SELECT brand, band,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(q) AS BIGINT) AS sq,
                   CAST(SUM(dc) AS BIGINT) AS sd
            FROM base GROUP BY 1, 2
        )
        SELECT lo.brand,
               lo.n AS n_lo, hi.n AS n_hi,
               ROUND(CAST(lo.sq AS DOUBLE) / lo.n, 6) AS q_lo,
               ROUND(CAST(hi.sq AS DOUBLE) / hi.n, 6) AS q_hi,
               ROUND(CAST(lo.sd AS DOUBLE) / lo.n, 6) AS d_lo,
               ROUND(CAST(hi.sd AS DOUBLE) / hi.n, 6) AS d_hi,
               ROUND(((CAST(hi.sq AS DOUBLE) / hi.n
                       - CAST(lo.sq AS DOUBLE) / lo.n)
                      * (CAST(hi.sd AS DOUBLE) / hi.n
                         + CAST(lo.sd AS DOUBLE) / lo.n))
                     / ((CAST(hi.sq AS DOUBLE) / hi.n
                         + CAST(lo.sq AS DOUBLE) / lo.n)
                        * (CAST(hi.sd AS DOUBLE) / hi.n
                           - CAST(lo.sd AS DOUBLE) / lo.n)), 6)
                   AS arc_elasticity
        FROM g lo JOIN g hi ON hi.brand = lo.brand
        WHERE lo.band = 0 AND hi.band = 1
    """,
    doc=(
        "ARC ELASTICITY of demand to discount (the midpoint-formula "
        "elasticity every pricing team computes before touching a "
        "price): per brand, mean order quantity in the low-discount "
        "band (≤5 cents of discount) vs the high band, with "
        "e = (Δq/q̄)/(Δd/d̄) on band means — the symmetric arc form, "
        "immune to which band you call 'before'. A positive e here "
        "reads 'deeper discounts move more units'. Determinism: band "
        "assignment is an exact integer-cents threshold; all sums and "
        "counts exact BIGINTs; the elasticity is ONE fixed-order "
        "double expression over those integers, round-6 (brands whose "
        "bands tie on mean discount would divide by zero — impossible "
        "here by construction: the bands partition on the discount "
        "value itself). Plan: broadcast-dim join + one two-level hash "
        "aggregate + a 25-row self-join; linear in rows."
    ),
)
def mkt_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        cents("l_discount").alias("dc"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(F.col("dc") <= 5, 0).otherwise(1).alias("band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("sq"),
            F.sum("dc").cast("bigint").alias("sd"),
        )
    )
    lo = g.filter(F.col("band") == 0).select(
        "brand", F.col("n").alias("n_lo"), F.col("sq").alias("sq_lo"),
        F.col("sd").alias("sd_lo"),
    )
    hi = g.filter(F.col("band") == 1).select(
        "brand", F.col("n").alias("n_hi"), F.col("sq").alias("sq_hi"),
        F.col("sd").alias("sd_hi"),
    )
    ql = F.col("sq_lo").cast("double") / F.col("n_lo")
    qh = F.col("sq_hi").cast("double") / F.col("n_hi")
    dl = F.col("sd_lo").cast("double") / F.col("n_lo")
    dh = F.col("sd_hi").cast("double") / F.col("n_hi")
    return lo.join(hi, "brand").select(
        "brand",
        "n_lo",
        "n_hi",
        F.round(ql, 6).alias("q_lo"),
        F.round(qh, 6).alias("q_hi"),
        F.round(dl, 6).alias("d_lo"),
        F.round(dh, 6).alias("d_hi"),
        F.round(((qh - ql) * (dh + dl)) / ((qh + ql) * (dh - dl)), 6).alias(
            "arc_elasticity"
        ),
    )


@register(
    "agg_power_twoprop",
    "D",
    oracle="""
        WITH base AS (
            SELECT o_orderpriority AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x
            FROM orders GROUP BY 1
        )
        SELECT segment, n, x,
               ROUND(CAST(x AS DOUBLE) / n, 6) AS baseline_rate,
               ROUND(CAST(x AS DOUBLE) / n + 0.02, 6) AS target_rate,
               CAST(ceil(
                   (1.959964 + 0.841621) * (1.959964 + 0.841621)
                   * ((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n)
                      + (CAST(x AS DOUBLE) / n + 0.02)
                        * (1.0 - (CAST(x AS DOUBLE) / n + 0.02)))
                   / (0.02 * 0.02)) AS BIGINT) AS n_per_arm
        FROM base
    """,
    doc=(
        "TWO-PROPORTION POWER ANALYSIS (the pre-experiment sample-size "
        "calculator; Fleiss' normal-approximation formula): for each "
        "order-priority segment's observed completion rate p1, the "
        "rows-per-arm needed to detect a +2pp absolute lift at "
        "α = 0.05 two-sided, power 0.80 — "
        "n = (z_{α/2}+z_β)²(p1q1+p2q2)/Δ². Completes the "
        "experimentation toolkit: agg_prop_ztest ANALYZES a finished "
        "test, this SIZES the next one, events_did_estimator handles "
        "the quasi-experimental case. Determinism: the two z quantiles "
        "are FROZEN literals (1.959964, 0.841621 — inverse-normal is "
        "libm territory, the ts_periodogram rule), rates are exact "
        "rationals, and the ceiling of the one fixed-order expression "
        "is integral-stable because its inputs are bit-identical in "
        "both engines. Plan: one hash aggregate over orders; the "
        "calculator is per-group O(1)."
    ),
)
def agg_power_twoprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    base = o.groupBy(F.col("o_orderpriority").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    p1 = F.col("x").cast("double") / F.col("n")
    p2 = p1 + F.lit(0.02)
    zsum = F.lit(1.959964) + F.lit(0.841621)
    n_arm = F.ceil(
        zsum * zsum
        * (p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
        / (F.lit(0.02) * F.lit(0.02))
    )
    return base.select(
        "segment",
        "n",
        "x",
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        n_arm.cast("bigint").alias("n_per_arm"),
    )
