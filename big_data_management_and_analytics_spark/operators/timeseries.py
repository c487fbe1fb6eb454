"""Time-series resampling operators over the events stream table:
OHLC downsampling and spine-based gap filling with carry-forward —
the two shapes every metrics/feature-store pipeline needs.

Both oracle-tier; timestamps flow through the compare bridge directly
(the streaming batch twins established that convention).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.plans.determinism import cents, money_sum_fast
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    checkpoint,
    load,
    local_frame,
)


def _pround6(col):
    """Portable half-up(+inf) round of a double to 6 decimals as pure
    IEEE ops: FLOOR(x*1e6 + 0.5)/1e6. Engine ROUND semantics on doubles
    differ even for BIT-IDENTICAL inputs (Spark rounds the shortest
    decimal repr, DuckDB multiplies by 1e6 and std::rounds, Python is
    banker's — SURVEY §2.0 amendment 13, measured on ts_ewma's fold at
    sf0.1), so recursive-fold finals over nice-decimal data must round
    through this + the matching oracle text (see _PROUND6_SQL)."""
    return (
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("double")
        / F.lit(1000000.0)
    )


def _pround6_sql(expr: str) -> str:
    return f"CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0"


@register(
    "ts_ohlc_resample",
    "E",
    oracle="""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   ts, event_id, value
            FROM events
        ),
        o AS (
            SELECT event_type, bucket, value AS open
            FROM b
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY event_type, bucket ORDER BY ts, event_id) = 1
        ),
        c AS (
            SELECT event_type, bucket, value AS close
            FROM b
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY event_type, bucket ORDER BY ts DESC, event_id DESC) = 1
        ),
        a AS (
            SELECT event_type, bucket,
                   MAX(value) AS high, MIN(value) AS low,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM b GROUP BY event_type, bucket
        )
        SELECT a.event_type, a.bucket, o.open, a.high, a.low, c.close,
               a.n_events, a.sum_value
        FROM a
        JOIN o ON o.event_type = a.event_type AND o.bucket = a.bucket
        JOIN c ON c.event_type = a.event_type AND c.bucket = a.bucket
    """,
    doc=(
        "OHLC downsampling at (series, hour) grain — the corpus-wide "
        "complement of win_ohlc_resample's per-(user, minute) tick bars, "
        "adding the exact-cents volume column: the first/last values by "
        "(ts, event_id) — a total, deterministic order — plus high/low/"
        "count/exact-cents sum. Open and close come from per-bucket "
        "row_number windows (partition = one bucket of one series, so "
        "window parallelism equals bucket count — no global sort); the "
        "extremes and sums are one hash aggregate. All picks are raw "
        "stored doubles (no float arithmetic), the sum is integer-cents "
        "exact, so the output is partition-order independent."
    ),
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    w_open = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    w_close = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    picks = (
        e.withColumn("rn_o", F.row_number().over(w_open))
        .withColumn("rn_c", F.row_number().over(w_close))
        .filter((F.col("rn_o") == 1) | (F.col("rn_c") == 1))
    )
    opens = picks.filter(F.col("rn_o") == 1).select(
        "event_type", "bucket", F.col("value").alias("open")
    )
    closes = picks.filter(F.col("rn_c") == 1).select(
        "event_type", "bucket", F.col("value").alias("close")
    )
    agg = e.groupBy("event_type", "bucket").agg(
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count(F.lit(1)).alias("n_events"),
        money_sum_fast("value", "sum_value"),
    )
    return (
        agg.join(opens, ["event_type", "bucket"])
        .join(closes, ["event_type", "bucket"])
        .select(
            "event_type", "bucket", "open", "high", "low", "close",
            "n_events", "sum_value",
        )
    )


@register(
    "ts_gap_fill",
    "E",
    oracle="""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS hour, value
            FROM events
        ),
        obs AS (
            SELECT event_type, hour, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM b GROUP BY event_type, hour
        ),
        bounds AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM b),
        spine AS (
            SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        grid AS (
            SELECT t.event_type, s.hour
            FROM (SELECT DISTINCT event_type FROM b) t CROSS JOIN spine s
        )
        SELECT g.event_type, g.hour,
               COALESCE(o.n_events, 0) AS n_events,
               last_value(o.sum_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value,
               CASE WHEN o.hour IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM grid g
        LEFT JOIN obs o ON o.event_type = g.event_type AND o.hour = g.hour
    """,
    doc=(
        "Spine-based gap filling: a complete hourly spine (sequence "
        "between the observed bounds — a broadcast 1-row scalar, never a "
        "driver round-trip) crossed with the series set, left-joined to "
        "the observed hourly aggregates, missing hours carried forward "
        "with last_value(IGNORE NULLS). Gap hours report n_events=0, "
        "is_gap=1, and the last observed exact-cents sum; leading gaps "
        "stay NULL. The carry-forward window partitions per series — "
        "parallelism equals series count here, and at 100 TB the spine "
        "join stays proportional to |series| x |buckets|, not event "
        "count."
    ),
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour"), "value"
    )
    obs = b.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum_fast("value", "sum_value"),
    )
    bounds = b.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = b.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    w = (
        Window.partitionBy(F.col("g.event_type"))
        .orderBy(F.col("g.hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.alias("g").join(
        obs.alias("o"),
        (F.col("g.event_type") == F.col("o.event_type"))
        & (F.col("g.hour") == F.col("o.hour")),
        "left",
    )
    return filled.select(
        F.col("g.event_type").alias("event_type"),
        F.col("g.hour").alias("hour"),
        F.coalesce(F.col("o.n_events"), F.lit(0)).alias("n_events"),
        F.last(F.col("o.sum_value"), ignorenulls=True).over(w).alias("filled_value"),
        F.when(F.col("o.hour").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@register(
    "events_funnel",
    "L",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS c_ts
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.v_ts
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS p_ts
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click_after_view,
               (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
               (SELECT ROUND(AVG(CAST(date_diff('second', v.v_ts, p.p_ts) AS DOUBLE)), 4)
                FROM p JOIN v ON v.user_id = p.user_id) AS avg_sec_to_convert
    """,
    doc=(
        "Ordered funnel analysis (view -> click -> purchase) — extends "
        "win_funnel_steps' single click->purchase hop to a 3-stage "
        "strictly-ordered chain with conversion latency: each stage "
        "is the per-user MIN event time strictly after the previous "
        "stage, computed as a chain of filtered aggregates + equi-joins "
        "— every step shuffles on user_id only, so the whole funnel is "
        "co-partitioned after the first exchange and each stage prunes "
        "the user set monotonically. Second-resolution conversion time "
        "(floor-to-second diff — identical boundary-crossing semantics "
        "in both engines), rounded."
    ),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    conv = p.join(v, "user_id").agg(
        F.round(
            F.avg(
                (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).cast(
                    "double"
                )
            ),
            4,
        ).alias("avg_sec_to_convert")
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )
    return counts.crossJoin(conv)


@register(
    "events_cohort_retention",
    "L",
    oracle="""
        WITH wk AS (
            SELECT user_id, date_trunc('week', ts) AS w FROM events
        ),
        first AS (SELECT user_id, MIN(w) AS cohort FROM wk GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, w FROM wk)
        SELECT f.cohort,
               CAST(date_diff('day', f.cohort, a.w) // 7 AS INT) AS week_offset,
               COUNT(*) AS n_users
        FROM act a JOIN first f ON f.user_id = a.user_id
        GROUP BY f.cohort, week_offset
    """,
    doc=(
        "Cohort retention: users grouped by first-activity ISO week, "
        "counted in each subsequent activity week. Two user_id-keyed "
        "aggregates + one co-partitioned join + one (cohort, offset) "
        "aggregate — the distinct-activity relation is bounded by "
        "|users| x |weeks|, so at 100 TB the plan is event-scan + three "
        "small shuffles. Week offsets are exact (both engines truncate "
        "to Monday; day deltas are multiples of 7)."
    ),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    wk = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    )
    first = wk.groupBy("user_id").agg(F.min("w").alias("cohort"))
    act = wk.distinct()
    return (
        act.join(first, "user_id")
        .select(
            "cohort",
            F.expr("CAST(datediff(w, cohort) div 7 AS INT)").alias("week_offset"),
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_transition_matrix",
    "L",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        trans AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        ),
        totals AS (
            SELECT prev_type, SUM(n) AS total FROM trans GROUP BY prev_type
        )
        SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
               ROUND(CAST(t.n AS DOUBLE) / tt.total, 6) AS prob
        FROM trans t JOIN totals tt ON tt.prev_type = t.prev_type
    """,
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: one lag window per user (total (ts, event_id) order), "
        "one (prev, next) hash aggregate, row-normalized via a "
        "broadcast-sized per-prev totals join. The |types|^2-bounded "
        "output makes every post-window shuffle trivial; the only "
        "event-scale work is the user-partitioned sequence window."
    ),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("total"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("prob"),
    )


@register(
    "ts_anomaly_zscore",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS c
            FROM events
            GROUP BY event_type, hour
        ),
        win AS (
            SELECT event_type, hour, c,
                   SUM(c) OVER w AS sum_c,
                   SUM(c * c) OVER w AS sumsq_c,
                   COUNT(*) OVER w AS n
            FROM hourly
            WINDOW w AS (
                PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
            )
        )
        , vz AS (
            SELECT event_type, hour, c, n,
                   (CAST(sumsq_c AS DOUBLE)
                    - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n)
                       / (n - 1) AS var,
                   CAST(c AS DOUBLE) - CAST(sum_c AS DOUBLE) / n AS dev
            FROM win WHERE n >= 12
        )
        SELECT event_type, hour,
               CAST(c AS DOUBLE) / 100.0 AS hourly_value,
               ROUND(CASE WHEN var > 0 THEN dev / sqrt(var) END, 4) AS zscore,
               CASE WHEN var > 0 AND abs(dev / sqrt(var)) > 3.0
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM vz
    """,
    doc=(
        "Rolling z-score anomaly detection over hourly series — the "
        "temporal complement of win_anomaly_mad's static robust "
        "(median/MAD) per-user detector: a 24-hour "
        "trailing window on exact integer-cents sums (both window "
        "accumulators are LONG — partition-order independent), then mean/"
        "variance/z derived through the IDENTICAL double expression tree "
        "in both engines, so even the unrounded flag threshold agrees "
        "bit-for-bit. One hash aggregate + one per-series ordered window "
        "— the 100 TB cost is the hourly rollup scan; the window runs on "
        "|series| x |hours| rows."
    ),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.sum(cents("value")).alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-23, Window.currentRow)
    )
    win = hourly.select(
        "event_type",
        "hour",
        "c",
        F.sum("c").over(w).alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("sumsq_c"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") >= 12)
    cd = F.col("c").cast("double")
    sumd = F.col("sum_c").cast("double")
    sqd = F.col("sumsq_c").cast("double")
    n = F.col("n")
    # A flat window has variance exactly 0 (integer accumulators), so the
    # zero-variance guard is total — no ANSI divide-by-zero, z is NULL.
    vz = win.select(
        "event_type",
        "hour",
        "c",
        "n",
        ((sqd - sumd * sumd / n) / (n - 1)).alias("var"),
        (cd - sumd / n).alias("dev"),
    )
    z = F.col("dev") / F.sqrt(F.col("var"))
    return vz.select(
        "event_type",
        "hour",
        (F.col("c").cast("double") / 100.0).alias("hourly_value"),
        F.round(F.when(F.col("var") > 0, z), 4).alias("zscore"),
        F.when((F.col("var") > 0) & (F.abs(z) > 3.0), 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )


@register(
    "events_topk_paths",
    "L",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ),
        p AS (
            SELECT user_id, STRING_AGG(event_type, '>' ORDER BY rn) AS path
            FROM seq WHERE rn <= 3 GROUP BY user_id
        )
        SELECT path, COUNT(*) AS n_users
        FROM p
        GROUP BY path
        QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path ASC) <= 10
    """,
    doc=(
        "Top-10 opening paths (first three events per user, in total "
        "(ts, event_id) order): sequence mining's counting core. One "
        "per-user window prunes to 3 rows before any further shuffle, "
        "the path string aggregates per user, and the final top-k is a "
        "TakeOrderedAndProject over the |types|^3-bounded path space — "
        "no global sort, deterministic (count DESC, path ASC) tiebreak."
    ),
)
def events_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (
        e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    paths = first3.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(10)
    )


@register(
    "dq_constraint_audit",
    "L",
    oracle="""
        SELECT 'lineitem_pk_unique' AS rule,
               CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_violations
        FROM (
            SELECT COUNT(*) AS cnt FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
        )
        UNION ALL
        SELECT 'lineitem_orderkey_fk',
               CAST(COUNT(*) AS BIGINT)
        FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'lineitem_qty_range',
               CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_discount_range',
               CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_returnflag_domain',
               CAST(COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'orders_totalprice_nonneg',
               CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
        FROM orders
    """,
    doc=(
        "Declarative data-quality audit (the deequ/dbt-tests staple): "
        "primary-key uniqueness (excess-row count per duplicate group), "
        "referential integrity via anti-join, domain-range and "
        "date-ordering rules — one rule per output row with its exact "
        "violation count. Every rule is a scalar aggregate or anti-join "
        "the optimizer can run in one pass over each table; rules over "
        "the same table share the scan via conditional aggregation "
        "rather than issuing one query per rule. On this synthetic "
        "fixture the audit reports REAL findings — the generator does "
        "not enforce (l_orderkey, l_linenumber) uniqueness — which is "
        "exactly what the operator is for."
    ),
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.lit("lineitem_pk_unique").alias("rule"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n_violations"),
        )
    )
    fk = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(
            F.lit("lineitem_orderkey_fk").alias("rule"),
            F.count(F.lit(1)).alias("n_violations"),
        )
    )
    li_rules = li.agg(
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("lineitem_qty_range"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("lineitem_discount_range"),
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("lineitem_returnflag_domain"),
    )
    li_long = li_rules.unpivot(
        ids=[], values=None, variableColumnName="rule", valueColumnName="n_violations"
    )
    op = o.agg(
        F.lit("orders_totalprice_nonneg").alias("rule"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
            "n_violations"
        ),
    )
    return pk.unionAll(fk).unionAll(li_long).unionAll(op)


@register(
    "ts_ewma",
    "E",
    oracle="""
        WITH h AS (
            SELECT user_id, event_type,
                   list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ORDER BY ts, event_id) AS cents,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id, event_type
        ),
        f AS (
            SELECT user_id, event_type, n_events,
                   list_reduce(
                       list_transform(cents,
                           x -> CAST(CAST(x AS DECIMAL(18,0)) * 0.01
                                     AS DECIMAL(30,12))),
                       (acc, x) -> CAST(ROUND(0.3 * x + 0.7 * acc, 12)
                                        AS DECIMAL(30,12))
                   ) AS acc
            FROM h
        )
        SELECT user_id, event_type,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(CAST(ROUND(acc, 6) * 1000000 AS BIGINT) AS DOUBLE)
                   / 1000000.0 AS ewma
        FROM f
    """,
    doc=(
        "Exponentially-weighted moving average (alpha = 0.3) of each "
        "(user, series) value history — the classic recursive smoother "
        "feature stores keep per entity. The recurrence s_t = a*x_t + "
        "(1-a)*s_{t-1} is NOT window-expressible (each step depends on "
        "the previous output), so it runs as a per-entity LEFT FOLD over "
        "the (ts, event_id)-sorted value array: collect_list + "
        "sort_array + F.aggregate — one shuffle, then map-only codegen; "
        "parallelism = entity count, no window state. Round 5: the fold "
        "runs in EXACT DECIMAL arithmetic (integer-cents inputs, "
        "alpha as a decimal literal, per-step ROUND to scale 12), not "
        "doubles — the sf0.1 sweep caught a double fold landing on "
        "exactly 66.0275995, whose ROUND(...,6) DIVERGES between "
        "engines even on a BIT-IDENTICAL double: Spark rounds the "
        "shortest decimal repr (BigDecimal.valueOf → '66.0275995' → "
        "half-up → .0276) while DuckDB rounds the exact binary value "
        "(...49999... → .027599). Nice-decimal fixtures make short "
        "reprs — and therefore exact (k+1)-digit halves — common, so "
        "recursive folds over 2-decimal data are the hot class for "
        "this hazard; exact decimals remove it (identical rational "
        "arithmetic, identical rounding points, integer micro-unit "
        "output). The cents quantization assumes events.value is "
        "cents-grained — guarded by "
        "test_events_value_is_cents_grained so a finer-grained fixture "
        "fails loudly. Scale note: per-entity history must fit one task — "
        "bounded here; a 100 TB variant chunks histories by epoch and "
        "folds epoch partials (s carries across chunks via the a^k "
        "prefix weight)."
    ),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    hist = e.groupBy("user_id", "event_type").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("h"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    # integer cents (FLOOR(v*100+0.5) is the same double op in both
    # engines), widened to exact DECIMAL dollars at scale 12
    vals = F.transform(
        F.col("h"),
        lambda s: (
            F.floor(s["value"] * 100 + F.lit(0.5)).cast("decimal(18,0)")
            * F.lit(Decimal("0.01"))
        ).cast("decimal(30,12)"),
    )
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.round(
            F.lit(Decimal("0.3")) * x + F.lit(Decimal("0.7")) * acc, 12
        ).cast("decimal(30,12)"),
    )
    # exact integer micro-units -> double (both casts correctly rounded
    # and identical cross-engine; keeps the declared double schema)
    return hist.select(
        "user_id",
        "event_type",
        "n_events",
        (
            (F.round(folded, 6) * F.lit(1000000)).cast("bigint").cast("double")
            / F.lit(1000000.0)
        ).alias("ewma"),
    )


@register(
    "ts_rolling_regression",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT user_id,
                   date_trunc('hour', ts) AS bucket,
                   CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS x,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2, 3
        ),
        w AS (
            SELECT user_id, bucket, y,
                   COUNT(*) OVER win AS n,
                   SUM(x) OVER win AS sx,
                   SUM(y) OVER win AS sy,
                   SUM(x * x) OVER win AS sxx,
                   SUM(x * y) OVER win AS sxy,
                   SUM(y * y) OVER win AS syy
            FROM hourly
            WINDOW win AS (
                PARTITION BY user_id ORDER BY x
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, bucket,
               CAST(n AS BIGINT) AS n_obs,
               CAST(y AS DOUBLE) / 100.0 AS hour_value,
               CASE WHEN n >= 2 THEN
                   ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                         / (n * sxx - sx * sx) / 100.0, 6)
               END AS slope,
               CASE WHEN n >= 2 AND n * syy - sy * sy > 0 THEN
                   ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                         * CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         / CAST(n * syy - sy * sy AS DOUBLE), 6)
               END AS r2
        FROM w
    """,
    doc=(
        "Rolling OLS trend per user: slope and R² of hourly spend over a "
        "trailing 6-hour RANGE window (range frame over the integer hour "
        "index, so missing hours shrink the sample instead of stretching "
        "the window — the rows-frame bug this shape usually has). Every "
        "window accumulator is an EXACT integer sum (hour index, cents, "
        "and their products all bounded well under 2^63), and slope/R² "
        "are one closed-form double expression over those longs — "
        "partition-order invariant, hash-exact. Degenerate guards: "
        "single-point windows yield null slope; flat-y windows null R². "
        "Plan: one hash agg to hourly grain, one per-user window — "
        "parallelism = users, no global state."
    ),
)
def ts_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("bucket"), "value"
    )
    hourly = (
        e.withColumn(
            # floor division (not truncation) so the hour index matches the
            # oracle's // even for negative epochs / non-UTC sessions.
            "x", F.floor(F.unix_timestamp("bucket") / F.lit(3600)).cast("bigint")
        )
        .groupBy("user_id", "bucket", "x")
        .agg(F.sum(cents("value")).alias("y"))
    )
    win = (
        Window.partitionBy("user_id").orderBy("x").rangeBetween(-5, 0)
    )
    w = hourly.select(
        "user_id",
        "bucket",
        "y",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return w.select(
        "user_id",
        "bucket",
        F.col("n").cast("bigint").alias("n_obs"),
        (F.col("y").cast("double") / 100.0).alias("hour_value"),
        F.when(
            F.col("n") >= 2,
            F.round(num.cast("double") / denx / 100.0, 6),
        ).alias("slope"),
        F.when(
            (F.col("n") >= 2) & (deny > 0),
            F.round(
                num.cast("double")
                * num.cast("double")
                / denx.cast("double")
                / deny.cast("double"),
                6,
            ),
        ).alias("r2"),
    )


@register(
    "events_attribution",
    "L",
    oracle="""
        WITH purch AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ),
        touch AS (
            SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
            FROM events WHERE event_type IN ('view', 'click')
        ),
        joined AS (
            SELECT p.user_id, p.pid, t.ttype, t.tts, t.tid
            FROM purch p JOIN touch t
              ON t.user_id = p.user_id
             AND t.tts >= p.pts - INTERVAL 24 HOUR
             AND t.tts < p.pts
        ),
        w AS (
            SELECT ttype,
                   COUNT(*) OVER (PARTITION BY user_id, pid) AS n,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, pid
                       ORDER BY tts DESC, tid DESC) AS rn
            FROM joined
        )
        SELECT ttype AS touch_type,
               CAST(COUNT(*) AS BIGINT) AS n_assists,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_last_touch,
               ROUND(CAST(SUM(CAST(ROUND(1.0 / n, 9) AS DECIMAL(28,9)))
                          AS DOUBLE), 6) AS linear_credit
        FROM w
        GROUP BY ttype
        ORDER BY ttype
    """,
    doc=(
        "Marketing attribution over the event stream: every purchase "
        "distributes conversion credit across the user's view/click "
        "touches in the trailing 24 h — LINEAR credit (1/n per touch) "
        "and LAST-TOUCH counts (latest touch by the (ts, event_id) "
        "total order) side by side. The purchase↔touch pairing is an "
        "equi-join on the user plus a time-band predicate — work is "
        "Σ(purchases·touches) per user, bounded by real session "
        "activity, never a global pair space. Both credit statistics "
        "ride per-purchase PARTITIONED windows. The fractional 1/n "
        "credits are quantized to DECIMAL(28,9) before summing, so the "
        "float-derived aggregate is exact and partition-order "
        "invariant (the perplexity convention). Purchases with no "
        "trailing touch contribute nothing by declared semantics."
    ),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ttype"),
    )
    joined = purch.join(
        touch,
        ["user_id"],
    ).filter(
        (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("tts") < F.col("pts"))
    )
    wp = Window.partitionBy("user_id", "pid")
    wr = wp.orderBy(F.col("tts").desc(), F.col("tid").desc())
    flagged = joined.select(
        "ttype",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.row_number().over(wr).alias("rn"),
    )
    return (
        flagged.groupBy(F.col("ttype").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assists"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_last_touch"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("n"), 9).cast("decimal(28,9)")
                ).cast("double"),
                6,
            ).alias("linear_credit"),
        )
        .orderBy("touch_type")
    )


@register(
    "events_cumulative_uniques",
    "L",
    oracle="""
        WITH first_touch AS (
            SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT date_trunc('day', first_ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS new_users
            FROM first_touch GROUP BY 1
        )
        SELECT day, new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cumulative_users
        FROM daily
        ORDER BY day
    """,
    doc=(
        "Growth curve: daily new users and the cumulative unique-user "
        "count — the running COUNT(DISTINCT) every analytics dashboard "
        "wants, which is NOT directly window-expressible at scale. The "
        "classic reduction: distinct-to-date equals a running SUM of "
        "first-touch counts, so the plan is one per-user MIN(ts) "
        "aggregate (the only fact-scale shuffle), a per-day count, and "
        "the range-partitioned two-pass prefix SUM over the bounded "
        "daily relation (global_rank.with_global_prefix_sum — no "
        "single-partition window even though days are few). All "
        "integer — hash-exact under any partitioning."
    ),
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )

    e = load(spark, sf_dir, "events").select("user_id", "ts")
    first_touch = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    daily = first_touch.groupBy(
        F.date_trunc("day", "first_ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    return with_global_prefix_sum(
        daily, [F.col("day").asc()], "new_users", out="cumulative_users"
    ).orderBy("day")


@register(
    "events_rfm",
    "L",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MAX(ts) AS last_ts,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS monetary_c
            FROM events GROUP BY user_id
        )
        SELECT user_id, last_ts, frequency,
               CAST(monetary_c AS DOUBLE) / 100.0 AS monetary,
               CAST(NTILE(5) OVER (ORDER BY last_ts, user_id) AS INT) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary_c, user_id) AS INT) AS m_score,
               CAST(NTILE(5) OVER (ORDER BY last_ts, user_id) AS VARCHAR)
                   || CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS VARCHAR)
                   || CAST(NTILE(5) OVER (ORDER BY monetary_c, user_id) AS VARCHAR)
                   AS rfm_segment
        FROM per_user
    """,
    doc=(
        "RFM customer segmentation — recency / frequency / monetary "
        "quintile scores (5 = most recent / frequent / valuable) and "
        "the concatenated segment code, the CRM targeting staple. Each "
        "score is a GLOBAL quintile over the per-user aggregate, so all "
        "three run through the range-partitioned two-pass rank + "
        "closed-form ntile (three bounded range shuffles of the user "
        "relation — never a single-partition window; at 100 TB the "
        "user relation is the small output of the one fact-scale "
        "aggregate). Ties broken by user_id everywhere — total orders, "
        "deterministic tiles, integer/cents metrics throughout."
    ),
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        ntile_expr,
        with_global_row_number,
    )
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(cents("value")).alias("monetary_c"),
    )

    def score(df, order_col, name):
        ranked = with_global_row_number(
            df,
            [F.col(order_col).asc(), F.col("user_id").asc()],
            rn="_rn",
            total="_total",
        )
        return ranked.withColumn(
            name, ntile_expr(F.col("_rn"), F.col("_total"), 5)
        ).drop("_rn", "_total")

    scored = score(
        score(score(per_user, "last_ts", "r_score"), "frequency", "f_score"),
        "monetary_c",
        "m_score",
    )
    return scored.select(
        "user_id",
        "last_ts",
        "frequency",
        (F.col("monetary_c").cast("double") / 100.0).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )


@register(
    "events_dau_wau",
    "L",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day
            FROM events
        ),
        bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM act),
        contrib AS (
            SELECT a.user_id, t.target
            FROM act a, bounds b, LATERAL (
                SELECT UNNEST(generate_series(
                    a.day, a.day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS target
            ) t
            WHERE t.target <= b.hi
        ),
        wau AS (
            SELECT target AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
            FROM contrib GROUP BY target
        ),
        dau AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM act GROUP BY day
        )
        SELECT w.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau, w.wau,
               ROUND(CAST(COALESCE(d.dau, 0) AS DOUBLE) / w.wau, 6)
                   AS stickiness
        FROM wau w LEFT JOIN dau d ON d.day = w.day
    """,
    doc=(
        "DAU / WAU / stickiness — daily and trailing-7-day distinct "
        "active users per day plus the DAU/WAU engagement ratio. "
        "Running DISTINCT over a sliding window cannot ride a window "
        "frame; the scale pattern is CONTRIBUTION EXPLODE: each "
        "(user, active-day) row fans out to the ≤ 7 target days it "
        "keeps the user 'weekly active' for, and WAU becomes a plain "
        "per-day COUNT(DISTINCT) — 7× linear work instead of a "
        "re-scan per day, shuffled once on the day key. Bounds come "
        "from a 1-row broadcast scalar; all integers — hash-exact. "
        "(events_cumulative_uniques is the unbounded-window sibling via "
        "first-touch counts; this is the sliding-window form.)"
    ),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    act = e.distinct()
    # max over raw rows == max over distinct rows; aggregating before the
    # distinct keeps the bounds branch a map-side partial with no shuffle.
    bounds = e.agg(F.max("day").alias("hi"))
    contrib = (
        act.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.expr("INTERVAL 6 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("target"),
            "hi",
        )
        .filter(F.col("target") <= F.col("hi"))
    )
    wau = contrib.groupBy(F.col("target").alias("day")).agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    dau = act.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return wau.join(dau, "day", "left").select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).cast("bigint").alias("dau"),
        "wau",
        F.round(
            F.coalesce(F.col("dau"), F.lit(0)).cast("double") / F.col("wau"), 6
        ).alias("stickiness"),
    )


@register(
    "events_time_to_convert",
    "L",
    oracle="""
        WITH first_view AS (
            SELECT user_id, MIN(ts) AS v_ts
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        first_purchase AS (
            SELECT f.user_id,
                   MIN(e.ts) AS p_ts
            FROM first_view f
            JOIN events e
              ON e.user_id = f.user_id
             AND e.event_type = 'purchase'
             AND e.ts >= f.v_ts
            GROUP BY f.user_id
        ),
        lat AS (
            SELECT f.user_id,
                   CAST((epoch_us(p.p_ts) - epoch_us(f.v_ts)) // 1000000
                        AS BIGINT) AS latency_s
            FROM first_view f JOIN first_purchase p USING (user_id)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
               ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY latency_s), 4)
                   AS median_latency_s,
               ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY latency_s), 4)
                   AS p90_latency_s,
               CAST(MIN(latency_s) AS BIGINT) AS min_latency_s,
               CAST(MAX(latency_s) AS BIGINT) AS max_latency_s
        FROM lat
    """,
    doc=(
        "Conversion latency: per user, seconds from first view to first "
        "subsequent purchase, summarized as exact interpolated median / "
        "p90 plus min/max — the time-to-convert report events_funnel's "
        "stage counts do not carry. Two per-user MIN aggregates and one "
        "user-keyed band join (purchases at-or-after the first view); "
        "latencies are EXACT integer seconds, and the percentile is the "
        "established percentile ≡ percentile_cont cross-engine identity "
        "(agg_percentile_exact). Users who never view or never purchase "
        "after viewing are absent by funnel semantics."
    ),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    first_view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    # v_ts rides through the aggregation (constant per user), so no
    # second join of the per-user relation is needed.
    converted = (
        first_view.join(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_ts0")
            ),
            "user_id",
        )
        .filter(F.col("p_ts0") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts0").alias("p_ts"), F.min("v_ts").alias("v_ts"))
    )
    # Exact microsecond difference floored to whole seconds — truncating
    # each timestamp separately (unix_timestamp) disagrees with the
    # oracle's fractional epoch by ±1 s whenever sub-second parts exist.
    lat = converted.select(
        F.floor(
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")) / F.lit(1000000)
        )
        .cast("bigint")
        .alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 4).alias(
            "median_latency_s"
        ),
        F.round(F.percentile("latency_s", F.lit(0.9)), 4).alias("p90_latency_s"),
        F.min("latency_s").alias("min_latency_s"),
        F.max("latency_s").alias("max_latency_s"),
    )


@register(
    "win_rolling_median",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS bucket,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                       / 100.0 AS y
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, bucket, y,
               ROUND(MEDIAN(y) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
                   AS rolling_median
        FROM hourly
    """,
    doc=(
        "Rolling median smoother — the robust alternative to "
        "win_sliding_avg (one outlier hour cannot move it). A median is "
        "an ORDER STATISTIC, not an accumulator, so no sum-style window "
        "frame computes it; the plan collects the ≤ 5-row trailing frame "
        "into a sorted array per row and picks/interpolates the middle "
        "(odd n → middle element; even n → mean of the two middles, "
        "matching SQL MEDIAN ≡ quantile_cont(0.5) exactly). Frame width "
        "is a constant, so per-row state is O(k) and the window stays "
        "entity-partitioned — scale-safe. Inputs are exact-cents hourly "
        "sums converted once to doubles; the interpolation midpoint is "
        "one identical add+halve in both engines."
    ),
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("bucket"), "value"
    )
    hourly = e.groupBy("user_id", "bucket").agg(
        (F.sum(cents("value")).cast("double") / 100.0).alias("y")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(-4, 0)
    )
    arr = F.sort_array(F.collect_list("y").over(w))
    n = F.size(arr)
    half = F.floor(n / 2).cast("int")
    median = F.when(
        n % 2 == 1, F.element_at(arr, half + 1)
    ).otherwise((F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2.0)
    return hourly.select(
        "user_id", "bucket", "y", F.round(median, 6).alias("rolling_median")
    )


@register(
    "ts_cusum_changepoint",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS yc
            FROM events GROUP BY 1, 2
        ),
        series AS (
            SELECT event_type, hour, yc,
                   ROW_NUMBER() OVER w AS t,
                   SUM(yc) OVER (PARTITION BY event_type ORDER BY hour
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS prefix,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   SUM(yc) OVER (PARTITION BY event_type) AS total
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hour)
        ),
        scored AS (
            SELECT event_type, hour, n,
                   CAST(n AS DECIMAL(38,0)) * prefix
                       - CAST(t AS DECIMAL(38,0)) * total AS s_scaled,
                   CAST(n AS DECIMAL(38,0)) * total AS denom
            FROM series
        )
        SELECT event_type,
               hour AS changepoint_hour,
               CAST(n AS BIGINT) AS n_hours,
               ROUND(CAST(s_scaled AS DOUBLE) / CAST(denom AS DOUBLE), 6)
                   AS cusum_norm
        FROM scored
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY event_type
            ORDER BY ABS(s_scaled) DESC, hour ASC) = 1
    """,
    doc=(
        "CUSUM changepoint locator per event-type series: the hour "
        "where the cumulative deviation from the series mean peaks — "
        "the classic level-shift detector. The whole statistic is "
        "INTEGER-EXACT via scaling: S_t = Σ(y_i − μ) multiplied through "
        "by n becomes n·prefix_t − t·total (cents), computed in "
        "DECIMAL(38,0) so it never overflows nor touches a float until "
        "the single normalized division at the end — no running float "
        "sum to drift with partition order (ts_anomaly_zscore's rule, "
        "applied to a prefix statistic). Every window partitions by the "
        "series; the argmax is a per-series rank with an (|S| DESC, "
        "hour ASC) total order."
    ),
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour"), "value"
    )
    hourly = e.groupBy("event_type", "hour").agg(F.sum(cents("value")).alias("yc"))
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    w_all = Window.partitionBy("event_type")
    series = hourly.select(
        "event_type",
        "hour",
        F.row_number().over(w_ord).alias("t"),
        F.sum("yc")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("yc").over(w_all).alias("total"),
    )
    s_scaled = F.col("n").cast("decimal(38,0)") * F.col("prefix") - F.col(
        "t"
    ).cast("decimal(38,0)") * F.col("total")
    scored = series.select(
        "event_type",
        "hour",
        "n",
        s_scaled.alias("s_scaled"),
        (F.col("n").cast("decimal(38,0)") * F.col("total")).alias("denom"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("hour").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("hour").alias("changepoint_hour"),
            F.col("n").cast("bigint").alias("n_hours"),
            F.round(
                F.col("s_scaled").cast("double") / F.col("denom").cast("double"),
                6,
            ).alias("cusum_norm"),
        )
    )


def _hourly_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hb, y) — exact integer-cents hourly grain of the
    events stream, the shared first stage of the ts_* analytics family
    (ACF, seasonal decompose, seasonal-naive backtest, seasonal
    anomaly). One hash aggregate, map-side combinable."""
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hb"), "value"
    )
    return e.groupBy("event_type", "hb").agg(F.sum(cents("value")).alias("y"))


def _epoch_hours(df: DataFrame) -> DataFrame:
    """Replace the hour bucket with an INTEGER epoch-hour index so lag
    alignment is codegen arithmetic (`ht + k`), no interval math."""
    return df.select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP '1970-01-01 00:00:00', hb)"
        ).cast("bigint").alias("ht"),
        "y",
    )


def _seasonal_devs(hourly: DataFrame) -> DataFrame:
    """(event_type, hb, hod, y, s_sum, s_cnt) — each hourly cell joined
    to its (series, hour-of-day) seasonal aggregate, broadcast back so
    the fact never shuffles twice. The integer-exact residual is
    y·cnt − Σy, scaled down only at each consumer's final projection."""
    h = hourly.withColumn("hod", F.hour("hb").cast("bigint"))
    seasonal = h.groupBy(
        F.col("event_type").alias("st"), F.col("hod").alias("shod")
    ).agg(
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s_sum"),
        F.count(F.lit(1)).cast("bigint").alias("s_cnt"),
    )
    return h.join(
        F.broadcast(seasonal),
        (F.col("st") == F.col("event_type")) & (F.col("shod") == F.col("hod")),
    ).select("event_type", "hb", "hod", "y", "s_sum", "s_cnt")


@register(
    "ts_acf",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_diff('hour', TIMESTAMP '1970-01-01',
                                  date_trunc('hour', ts)) AS BIGINT) AS ht,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ),
        lags AS (SELECT UNNEST([1, 2, 3]) AS lag),
        pairs AS (
            SELECT a.event_type, l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(a.y AS DECIMAL(38,0))) AS sa,
                   SUM(CAST(b.y AS DECIMAL(38,0))) AS sb,
                   SUM(CAST(a.y AS DECIMAL(19,0))
                       * CAST(b.y AS DECIMAL(19,0))) AS sab,
                   SUM(CAST(a.y AS DECIMAL(19,0))
                       * CAST(a.y AS DECIMAL(19,0))) AS saa,
                   SUM(CAST(b.y AS DECIMAL(19,0))
                       * CAST(b.y AS DECIMAL(19,0))) AS sbb
            FROM hourly a
            CROSS JOIN lags l
            JOIN hourly b
              ON b.event_type = a.event_type AND b.ht = a.ht + l.lag
            GROUP BY a.event_type, l.lag
        )
        SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
               CASE WHEN (CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa) > 0
                     AND (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb) > 0
                    THEN ROUND(
                        (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                        / sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                        / sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb),
                        6)
               END AS acf
        FROM pairs
        ORDER BY event_type, lag
    """,
    doc=(
        "Autocorrelation function at lags 1-3 per event-type hourly "
        "series — the seasonality/persistence probe behind every "
        "forecasting pipeline (is the series mean-reverting? does an "
        "hourly cycle survive?). The hourly grain is an exact cents "
        "sum; pairs align by an equi-join on an INTEGER hour index "
        "(epoch-hour, so `b.ht = a.ht + lag` is codegen arithmetic, "
        "no interval math), and every moment (Σa, Σb, Σab, Σa², Σb²) "
        "accumulates as EXACT DECIMAL — the Pearson-on-lagged-slices "
        "formulation of agg_corr_matrix applied to (x_t, x_{t+k}). "
        "One hash-agg to hourly, one shuffle join on (event_type, ht), "
        "one hash-agg to moments: linear in hours, and the pair fan-out "
        "is |lags|·hours, not hours². The only floats are the final "
        "guarded divisions, rounded to 6 digits."
    ),
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _epoch_hours(_hourly_cents(spark, sf_dir))
    a = hourly.withColumn("lag", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
    b = hourly.select(
        F.col("event_type").alias("bt"), F.col("ht").alias("bht"),
        F.col("y").alias("yb"),
    )
    d19 = "decimal(19,0)"
    pairs = (
        a.join(
            b,
            (F.col("bt") == F.col("event_type"))
            & (F.col("bht") == F.col("ht") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("yb").cast("decimal(38,0)")).alias("sb"),
            F.sum(F.col("y").cast(d19) * F.col("yb").cast(d19)).alias("sab"),
            F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("saa"),
            F.sum(F.col("yb").cast(d19) * F.col("yb").cast(d19)).alias("sbb"),
        )
    )
    nd = F.col("n").cast("double")
    var_a = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    var_b = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    cov = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    return pairs.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.when(
            (var_a > 0) & (var_b > 0),
            F.round(cov / F.sqrt(var_a) / F.sqrt(var_b), 6),
        ).alias("acf"),
    )


@register(
    "ts_seasonal_decompose",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hb,
                   CAST(hour(date_trunc('hour', ts)) AS BIGINT) AS hod,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2, 3
        ),
        seasonal AS (
            SELECT event_type, hod,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS s_sum,
                   CAST(COUNT(*) AS BIGINT) AS s_cnt
            FROM hourly GROUP BY 1, 2
        )
        SELECT h.event_type, h.hb, h.hod,
               ROUND(h.y / 100.0, 2) AS observed,
               ROUND(CAST(s.s_sum AS DOUBLE) / (100.0 * s.s_cnt), 6)
                   AS seasonal_mean,
               ROUND(CAST(CAST(h.y AS DECIMAL(38,0)) * s.s_cnt - s.s_sum
                          AS DOUBLE) / (100.0 * s.s_cnt), 6) AS deviation
        FROM hourly h
        JOIN seasonal s
          ON s.event_type = h.event_type AND s.hod = h.hod
        ORDER BY h.event_type, h.hb
    """,
    doc=(
        "Hour-of-day seasonal decomposition per event-type series: each "
        "hourly observation split into the seasonal component (the "
        "series' mean at that clock hour) and the residual deviation — "
        "the seasonal-naive baseline every anomaly detector is judged "
        "against. The deviation is computed INTEGER-EXACT by scaling "
        "through the seasonal count (y·cnt − Σy in DECIMAL(38,0)) so no "
        "float mean is ever subtracted — one guarded division per row "
        "at the end, rounded. Scale: the seasonal table is at most "
        "24·|series| rows → broadcast join back onto the hourly grain; "
        "one hash-agg + one map-side join, no extra shuffle of the "
        "fact, linear in hours."
    ),
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _seasonal_devs(_hourly_cents(spark, sf_dir))
    dev_scaled = F.col("y").cast("decimal(38,0)") * F.col("s_cnt") - F.col("s_sum")
    return joined.select(
        "event_type",
        "hb",
        "hod",
        F.round(F.col("y") / 100.0, 2).alias("observed"),
        F.round(
            F.col("s_sum").cast("double") / (F.lit(100.0) * F.col("s_cnt")), 6
        ).alias("seasonal_mean"),
        F.round(
            dev_scaled.cast("double") / (F.lit(100.0) * F.col("s_cnt")), 6
        ).alias("deviation"),
    )


@register(
    "events_pattern_match",
    "E",
    oracle="""
        WITH coded AS (
            SELECT user_id, ts, event_id,
                   substr(event_type, 1, 1) AS c
            FROM events
        ),
        journeys AS (
            SELECT user_id,
                   string_agg(c, '' ORDER BY ts, event_id) AS journey
            FROM coded GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(journey) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(journey, 'v[ce]*p'))
                    AS BIGINT) AS n_conversions,
               CAST(len(regexp_extract_all(journey, 's'))
                    AS BIGINT) AS n_signups,
               CASE WHEN journey LIKE '%v%' THEN 1 ELSE 0 END AS has_view
        FROM journeys
        ORDER BY user_id
    """,
    doc=(
        "MATCH_RECOGNIZE-style sequence pattern matching over per-user "
        "event journeys: each user's history becomes an ordered string "
        "of event-type codes (c/e/p/s/v) and conversion motifs are "
        "counted by regex — here `v[ce]*p` (a view, any clicks/errors, "
        "then a purchase; non-overlapping greedy scan, identical "
        "semantics in Java regex and the oracle's RE2 for this "
        "alternation-free pattern). The journey string is built by "
        "sort_array over (ts, event_id, code) structs — a total, "
        "deterministic order with the event-id tiebreak, equivalent to "
        "the oracle's ORDER BY string_agg — then one regexp_count per "
        "user. Complements events_funnel (strict step order, one pass) "
        "and events_topk_paths (n-gram transitions) with arbitrary "
        "regex motifs. Scale: one shuffle by user_id; per-user state is "
        "the journey string, bounded by per-user activity — at 100 TB "
        "grain, sessionize first (stream_session_batch) so the regex "
        "runs per session, not per lifetime; the plan shape is "
        "unchanged."
    ),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("c"),
    )
    journeys = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "c"))
                    ),
                    lambda s: s.getField("c"),
                ),
                "",
            ).alias("journey")
        )
    )
    return journeys.select(
        "user_id",
        F.length("journey").cast("bigint").alias("n_events"),
        F.regexp_count("journey", F.lit("v[ce]*p")).cast("bigint").alias(
            "n_conversions"
        ),
        F.regexp_count("journey", F.lit("s")).cast("bigint").alias("n_signups"),
        F.when(F.col("journey").contains("v"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("has_view"),
    )


@register(
    "ts_forecast_snaive",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_diff('hour', TIMESTAMP '1970-01-01',
                                  date_trunc('hour', ts)) AS BIGINT) AS ht,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT a.event_type,
                   ABS(a.y - f.y) AS abs_err,
                   a.y AS actual
            FROM hourly a
            JOIN hourly f
              ON f.event_type = a.event_type AND f.ht = a.ht - 24
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_backtest,
               CAST(COUNT(*) FILTER (WHERE actual <> 0) AS BIGINT)
                   AS n_nonzero,
               ROUND(SUM(abs_err) / (100.0 * COUNT(*)), 6) AS mae,
               ROUND(CAST(SUM(CAST(ROUND(
                       CAST(abs_err AS DOUBLE) / ABS(actual), 6)
                     AS DECIMAL(28,6))) FILTER (WHERE actual <> 0)
                     AS DOUBLE)
                     / COUNT(*) FILTER (WHERE actual <> 0), 6) AS mape
        FROM scored
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc=(
        "Seasonal-naive forecast backtest per series: predict each hour "
        "with the value 24 hours earlier and score MAE / MAPE over the "
        "whole history — the baseline every real forecasting model must "
        "beat, and the standard data-quality canary for metric drift. "
        "Errors are INTEGER cents (|y_t − y_{t−24}| of exact hourly "
        "sums, aligned by an integer epoch-hour equi-join like ts_acf); "
        "MAE is one exact integer sum with a terminal division, and "
        "each MAPE term is a per-row double rounded to 6 digits and "
        "accumulated as DECIMAL(28,6) (the perplexity quantization "
        "rule) over the nonzero actuals. One hash-agg, one shuffle "
        "join on (series, hour), one roll-up — linear, no window."
    ),
)
def ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _epoch_hours(_hourly_cents(spark, sf_dir))
    f = hourly.select(
        F.col("event_type").alias("ft"), F.col("ht").alias("fht"),
        F.col("y").alias("yhat"),
    )
    scored = hourly.join(
        f,
        (F.col("ft") == F.col("event_type"))
        & (F.col("fht") == F.col("ht") - 24),
    ).select(
        "event_type",
        F.abs(F.col("y") - F.col("yhat")).alias("abs_err"),
        F.col("y").alias("actual"),
    )
    nonzero = F.col("actual") != 0
    mape_term = F.round(
        F.col("abs_err").cast("double") / F.abs(F.col("actual")), 6
    ).cast("decimal(28,6)")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_backtest"),
        F.count(F.when(nonzero, 1)).cast("bigint").alias("n_nonzero"),
        F.round(
            F.sum("abs_err") / (F.lit(100.0) * F.count(F.lit(1))), 6
        ).alias("mae"),
        F.round(
            F.sum(F.when(nonzero, mape_term)).cast("double")
            / F.count(F.when(nonzero, 1)),
            6,
        ).alias("mape"),
    )


@register(
    "dq_freshness",
    "L",
    oracle="""
        WITH per_series AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(ts) AS first_ts,
                   MAX(ts) AS last_ts
            FROM events GROUP BY event_type
        ),
        global_max AS (SELECT MAX(ts) AS gmax FROM events)
        SELECT p.event_type, p.n_events, p.first_ts, p.last_ts,
               CAST(date_diff('hour', date_trunc('hour', p.last_ts),
                              date_trunc('hour', g.gmax)) AS BIGINT)
                   AS staleness_hours,
               CAST(date_diff('hour', date_trunc('hour', p.first_ts),
                              date_trunc('hour', p.last_ts)) AS BIGINT)
                   AS span_hours
        FROM per_series p CROSS JOIN global_max g
        ORDER BY p.event_type
    """,
    doc=(
        "Per-series freshness audit: event count, first/last arrival, "
        "hours of staleness behind the corpus' newest event, and the "
        "series' own span — the is-this-feed-still-alive check every "
        "ingestion pipeline page fires on (complements dq_profile's "
        "column statistics and dq_constraint_audit's row rules). One "
        "hash aggregate per series plus a one-row global max broadcast "
        "back as a scalar crossJoin (the tpch_q11 pattern — one row × "
        "N is map-side); staleness diffs HOUR-TRUNCATED timestamps — "
        "on exact hour multiples Spark's elapsed-hours timestampdiff "
        "and the oracle's boundary-crossing date_diff agree (they "
        "diverge on sub-hour offsets), and the result is a plain "
        "integer, no floats anywhere."
    ),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("event_type", "ts")
    per_series = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    gmax = e.agg(F.max("ts").alias("gmax"))
    return per_series.crossJoin(F.broadcast(gmax)).select(
        "event_type",
        "n_events",
        "first_ts",
        "last_ts",
        F.expr(
            "timestampdiff(HOUR, date_trunc('hour', last_ts),"
            " date_trunc('hour', gmax))"
        ).cast("bigint").alias("staleness_hours"),
        F.expr(
            "timestampdiff(HOUR, date_trunc('hour', first_ts),"
            " date_trunc('hour', last_ts))"
        ).cast("bigint").alias("span_hours"),
    )


@register(
    "ts_anomaly_seasonal",
    "E",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hb,
                   CAST(hour(date_trunc('hour', ts)) AS BIGINT) AS hod,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS y
            FROM events GROUP BY 1, 2, 3
        ),
        seasonal AS (
            SELECT event_type, hod,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS s_sum,
                   CAST(COUNT(*) AS BIGINT) AS s_cnt
            FROM hourly GROUP BY 1, 2
        ),
        devs AS (
            SELECT h.event_type, h.hb,
                   ROUND(CAST(CAST(h.y AS DECIMAL(38,0)) * s.s_cnt - s.s_sum
                              AS DOUBLE) / (100.0 * s.s_cnt), 6) AS dev
            FROM hourly h
            JOIN seasonal s
              ON s.event_type = h.event_type AND s.hod = h.hod
        ),
        med AS (
            SELECT event_type, quantile_cont(dev, 0.5) AS med_dev
            FROM devs GROUP BY event_type
        ),
        stats AS (
            SELECT d.event_type,
                   ANY_VALUE(m.med_dev) AS med_dev,
                   quantile_cont(abs(d.dev - m.med_dev), 0.5) AS mad_dev
            FROM devs d JOIN med m USING (event_type)
            GROUP BY d.event_type
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               ROUND(ANY_VALUE(s.med_dev), 6) AS median_dev,
               ROUND(ANY_VALUE(s.mad_dev), 6) AS mad_dev,
               CAST(SUM(CASE WHEN s.mad_dev > 0
                             AND abs(d.dev - s.med_dev) > 3 * s.mad_dev
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM devs d JOIN stats s USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    doc=(
        "Seasonality-adjusted anomaly detection: the hour-of-day "
        "component is removed first (ts_seasonal_decompose's integer-"
        "exact residual), THEN the robust median/MAD rule flags hours "
        "more than 3 MADs off — so a daily peak is never a false "
        "positive and a flat 3am spike never hides (the win_anomaly_mad "
        "rule applied to residuals instead of raw values). Residuals "
        "are rounded once (6 digits) before the two exact interpolated "
        "percentiles per series (Spark percentile ≡ DuckDB "
        "quantile_cont, the agg_percentile_exact parity), so every "
        "float both engines see is identical. Scale: hourly hash-agg → "
        "broadcast seasonal join → per-series percentile shuffle on "
        "|series| keys; all row counts after the first agg are "
        "|series|·|hours|, independent of raw event volume."
    ),
)
def ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    devs = _seasonal_devs(_hourly_cents(spark, sf_dir)).select(
        "event_type",
        "hb",
        F.round(
            (F.col("y").cast("decimal(38,0)") * F.col("s_cnt") - F.col("s_sum"))
            .cast("double")
            / (F.lit(100.0) * F.col("s_cnt")),
            6,
        ).alias("dev"),
    )
    med = devs.groupBy(F.col("event_type").alias("mt")).agg(
        F.expr("percentile(dev, 0.5)").alias("med_dev")
    )
    dev_med = devs.join(
        F.broadcast(med), F.col("mt") == F.col("event_type")
    ).select("event_type", "hb", "dev", "med_dev")
    stats = dev_med.groupBy(F.col("event_type").alias("qt")).agg(
        F.first("med_dev").alias("s_med"),
        F.expr("percentile(abs(dev - med_dev), 0.5)").alias("mad_dev"),
    )
    scored = dev_med.join(
        F.broadcast(stats), F.col("qt") == F.col("event_type")
    )
    is_anom = (F.col("mad_dev") > 0) & (
        F.abs(F.col("dev") - F.col("s_med")) > 3 * F.col("mad_dev")
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(F.first("s_med"), 6).alias("median_dev"),
        F.round(F.first("mad_dev"), 6).alias("mad_dev"),
        F.sum(F.when(is_anom, 1).otherwise(0)).cast("bigint").alias(
            "n_anomalies"
        ),
    )


@register(
    "events_inter_event_time",
    "L",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        gaps AS (
            SELECT user_id,
                   CAST((epoch_us(ts) - epoch_us(prev_ts)) // 1000000
                        AS BIGINT) AS gap_s
            FROM ordered WHERE prev_ts IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY gap_s), 4)
                   AS median_gap_s,
               ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY gap_s), 4)
                   AS p90_gap_s,
               CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
        FROM gaps
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc=(
        "Inter-event (inter-arrival) time distribution per user: the "
        "lag gap between consecutive events in (ts, event_id) total "
        "order, summarized as exact interpolated median/p90 plus max — "
        "the engagement-cadence metric behind session-timeout tuning "
        "(pick the session gap threshold where the p90 inter-arrival "
        "curve breaks) and churn scoring. Gaps are EXACT integer "
        "seconds from microsecond epochs (floored once — truncating "
        "each timestamp separately drifts ±1 s on sub-second parts, "
        "the events_time_to_convert lesson); the percentile is the "
        "established percentile ≡ percentile_cont identity. One "
        "user-partitioned lag window and one per-user aggregate — a "
        "single shuffle on user_id, linear."
    ),
)
def events_inter_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.floor(
                (F.unix_micros("ts") - F.unix_micros("prev_ts"))
                / F.lit(1000000)
            )
            .cast("bigint")
            .alias("gap_s"),
        )
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("median_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


@register(
    "win_streaks",
    "E",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(date_diff('day', TIMESTAMP '1970-01-01',
                                  date_trunc('day', ts)) AS BIGINT) AS d
            FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   d - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY d) AS island
            FROM days
        ),
        streaks AS (
            SELECT user_id, island,
                   CAST(COUNT(*) AS BIGINT) AS len,
                   MIN(d) AS start_d
            FROM isl GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               MAX(len) AS longest_streak,
               CAST(MAX_BY(start_d, len * 2097152 - start_d) AS BIGINT)
                   AS longest_start_day,
               CAST(SUM(len) AS BIGINT) AS n_active_days
        FROM streaks
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc=(
        "Longest consecutive-day activity streak per user — the "
        "engagement/retention headline metric (duolingo-style streaks), "
        "built on the gaps-and-islands identity: distinct active days "
        "minus their per-user row_number is constant within a "
        "consecutive run. Day indices are INTEGER epoch-days (truncated "
        "then diffed, the dq_freshness convention), the island key is "
        "integer arithmetic, and the longest-streak pick ties toward "
        "the EARLIEST start via the scalar max_by key len·2²¹ − start "
        "(injective while streaks < 2²¹ days — centuries — so it IS "
        "the (len DESC, start ASC) total order in both engines). "
        "Shuffles once on user_id "
        "for the distinct+window, then two narrow hash aggregates — "
        "linear; per-user state is active-day counts, never raw events."
    ),
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "timestampdiff(DAY, TIMESTAMP '1970-01-01 00:00:00',"
            " date_trunc('day', ts))"
        ).cast("bigint").alias("d"),
    )
    days = e.distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("island", F.col("d") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("d").alias("start_d"),
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.max_by("start_d", F.col("len") * F.lit(2097152) - F.col("start_d"))
        .cast("bigint")
        .alias("longest_start_day"),
        F.sum("len").cast("bigint").alias("n_active_days"),
    )


@register(
    "ts_theil_sen",
    "E",
    oracle="""
        WITH pts AS (
            SELECT c.c_mktsegment AS seg,
                   CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                        AS BIGINT) AS m,
                   SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS yc
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.seg,
                   CAST(b.yc - a.yc AS DOUBLE) / (b.m - a.m) AS slope_c
            FROM pts a JOIN pts b ON a.seg = b.seg AND b.m > a.m
        ),
        sl AS (
            SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   median(slope_c) AS med_c
            FROM pairs GROUP BY seg
        ),
        res AS (
            SELECT p.seg, p.yc, p.m, s.n_pairs, s.med_c
            FROM pts p JOIN sl s ON p.seg = s.seg
        )
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               ANY_VALUE(n_pairs) AS n_pairs,
               ROUND(ANY_VALUE(med_c) / 100.0, 6) AS slope_monthly,
               ROUND(median(CAST(yc AS DOUBLE) / 100.0
                            - med_c / 100.0 * m), 6) AS intercept
        FROM res
        GROUP BY seg
        ORDER BY seg
    """,
    doc=(
        "Theil-Sen robust trend per market segment: median of all "
        "pairwise slopes of the monthly-revenue series, plus the median-"
        "residual intercept — the outlier-immune alternative to the OLS "
        "slope in ts_rolling_regression (one rogue month cannot move "
        "it). The O(T^2) pair space is PER SERIES over the month-grain "
        "aggregate (T <= a few hundred months even at 100 TB), so the "
        "pair join is keyed on the segment and bounded — never a global "
        "cross join; the heavy relation only flows through the initial "
        "month-grain hash aggregate. Slopes are exact-cents differences "
        "divided once (identical double op both engines); medians "
        "interpolate the two middle elements identically in Spark and "
        "DuckDB. The month-grain aggregate is checkpointed once — it "
        "feeds both sides of the pair self-join and the residual pass."
    ),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    pts = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), m.alias("m"))
        .agg(F.sum(cents("o_totalprice")).alias("yc"))
        .transform(checkpoint)  # both pair sides + residual pass
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = a.join(
        b, (F.col("a.seg") == F.col("b.seg")) & (F.col("b.m") > F.col("a.m"))
    ).select(
        F.col("a.seg").alias("seg"),
        (
            (F.col("b.yc") - F.col("a.yc")).cast("double")
            / (F.col("b.m") - F.col("a.m"))
        ).alias("slope_c"),
    )
    sl = pairs.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.median("slope_c").alias("med_c"),
    )
    resid = F.col("yc").cast("double") / 100.0 - F.col("med_c") / 100.0 * F.col(
        "m"
    )
    return (
        pts.join(F.broadcast(sl), "seg")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.any_value("n_pairs").alias("n_pairs"),
            F.round(F.any_value("med_c") / 100.0, 6).alias("slope_monthly"),
            F.round(F.median(resid), 6).alias("intercept"),
        )
        .orderBy("seg")
    )


@register(
    "ts_holt_linear",
    "E",
    oracle="""
        WITH RECURSIVE h AS (
            SELECT user_id, event_type,
                   list(value ORDER BY ts, event_id) AS vals,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY user_id, event_type
            HAVING COUNT(*) >= 2
        ),
        r AS (
            SELECT user_id, event_type, vals, n_events,
                   1 AS i,
                   CAST(vals[1] AS DOUBLE) AS l,
                   CAST(vals[2] AS DOUBLE) - CAST(vals[1] AS DOUBLE) AS b
            FROM h
            UNION ALL
            SELECT user_id, event_type, vals, n_events, i + 1,
                   0.5 * CAST(vals[i + 1] AS DOUBLE) + 0.5 * (l + b),
                   0.2 * ((0.5 * CAST(vals[i + 1] AS DOUBLE)
                           + 0.5 * (l + b)) - l) + 0.8 * b
            FROM r
            WHERE i < n_events
        )
        SELECT user_id, event_type, n_events,
               CAST(FLOOR((l) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS level,
               CAST(FLOOR((b) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS trend,
               CAST(FLOOR((l + b) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS forecast_1
        FROM r
        WHERE i = n_events
    """,
    doc=(
        "Holt double-exponential smoothing (alpha=0.5, beta=0.2) per "
        "(user, event_type) value series, with the one-step-ahead "
        "forecast l+b — the trend-aware sibling of ts_ewma. The coupled "
        "recurrence (l_t, b_t) = f(l_{t-1}, b_{t-1}, x_t) is not window-"
        "expressible, so it runs as a per-entity LEFT FOLD with a STRUCT "
        "accumulator over the (ts, event_id)-sorted value array "
        "(collect_list + F.aggregate with struct state — one shuffle, "
        "then map-only codegen; parallelism = entity count). Init is the "
        "textbook l_1 = x_1, b_1 = x_2 - x_1, folding x_2..x_n. DuckDB "
        "1.0's list_reduce has no initial-value/struct form, so the "
        "oracle replays the identical recurrence as a recursive CTE "
        "(depth = series length, bounded); both engines execute the same "
        "double ops in the same order — a sequential fold has no "
        "summation-order freedom — so results match bit-for-bit before "
        "the ROUND. Same 100 TB posture as ts_ewma: per-entity history "
        "fits one task; epoch-chunked folds carry (l, b) across chunks."
    ),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    hist = (
        e.groupBy("user_id", "event_type")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("h"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .filter(F.col("n_events") >= 2)
    )
    vals = F.transform(F.col("h"), lambda s: s["value"])
    x1 = F.element_at(vals, 1)
    x2 = F.element_at(vals, 2)

    def step(acc, x):
        l_new = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.2) * (l_new - acc["l"]) + F.lit(0.8) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    folded = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.struct(x1.alias("l"), (x2 - x1).alias("b")),
        step,
    )
    return hist.select(
        "user_id",
        "event_type",
        "n_events",
        _pround6(folded["l"]).alias("level"),
        _pround6(folded["b"]).alias("trend"),
        _pround6(folded["l"] + folded["b"]).alias("forecast_1"),
    )


@register(
    "dq_reconciliation",
    "L",
    oracle="""
        WITH lc AS (
            SELECT l_orderkey,
                   SUM(CAST(FLOOR(l_extendedprice * (1 + l_tax)
                                  * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                       AS line_cents
            FROM lineitem GROUP BY l_orderkey
        ),
        j AS (
            SELECT o.o_orderkey,
                   CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS oc,
                   lc.line_cents
            FROM orders o LEFT JOIN lc ON o.o_orderkey = lc.l_orderkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphan,
               CAST(SUM(CASE WHEN line_cents = oc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               CAST(SUM(CASE WHEN line_cents IS NOT NULL
                             AND line_cents <> oc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_mismatched,
               CAST(COALESCE(MAX(ABS(oc - line_cents)), 0) AS BIGINT)
                   AS max_abs_diff_cents,
               CAST(COALESCE(SUM(ABS(oc - line_cents)), 0) AS BIGINT)
                   AS sum_abs_diff_cents
        FROM j
    """,
    doc=(
        "Cross-table reconciliation: does each order header's total "
        "equal the sum of its line charges (extendedprice*(1+tax)*"
        "(1-discount))? The classic finance/DQ control between a "
        "rollup table and its detail. Per-line charges quantize to "
        "EXACT cents before summing (identical double expression both "
        "engines, then integer arithmetic only), headerless orders "
        "count as orphans via the LEFT join, and the one-row report "
        "carries match/mismatch counts plus max and total absolute "
        "drift. Plan: one line-grain hash aggregate + one key join + "
        "one global aggregate — linear, shuffle on the order key only."
    ),
)
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    charge = cents(
        F.col("l_extendedprice") * (1 + F.col("l_tax")) * (1 - F.col("l_discount"))
    )
    lc = li.groupBy("l_orderkey").agg(F.sum(charge).alias("line_cents"))
    j = o.select("o_orderkey", cents("o_totalprice").alias("oc")).join(
        lc, o.o_orderkey == lc.l_orderkey, "left"
    )
    diff = F.abs(F.col("oc") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("line_cents").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orphan"),
        F.sum(F.when(F.col("line_cents") == F.col("oc"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(
                F.col("line_cents").isNotNull()
                & (F.col("line_cents") != F.col("oc")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mismatched"),
        F.coalesce(F.max(diff), F.lit(0)).cast("bigint").alias(
            "max_abs_diff_cents"
        ),
        F.coalesce(F.sum(diff), F.lit(0)).cast("bigint").alias(
            "sum_abs_diff_cents"
        ),
    )


@register(
    "win_decay_score",
    "E",
    oracle="""
        WITH c AS (
            SELECT user_id,
                   CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS xh,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
            FROM events
        ),
        m AS (
            SELECT user_id, xh, vc,
                   MAX(xh) OVER (PARTITION BY user_id) AS mx
            FROM c
        ),
        t AS (
            SELECT user_id,
                   CASE WHEN mx - xh <= 40 THEN 1 ELSE 0 END AS recent,
                   CASE WHEN mx - xh <= 40
                        THEN CAST(ROUND(vc * power(2.0, -(mx - xh)), 12)
                                  AS DECIMAL(38,12))
                        ELSE CAST(0 AS DECIMAL(38,12)) END AS term
            FROM m
        )
        SELECT user_id,
               CAST(SUM(recent) AS BIGINT) AS n_recent,
               ROUND(CAST(SUM(term) AS DOUBLE) / 100.0, 6) AS decay_score
        FROM t
        GROUP BY user_id
    """,
    doc=(
        "Half-life-decayed engagement score per user: each event "
        "contributes value * 2^(-age_hours) anchored at the user's most "
        "recent hour — the recency-weighted activity feature scoring "
        "models use instead of a raw sum. Determinism without trusting "
        "libm: the decay base is a POWER OF TWO with an integer "
        "exponent, so 2^-k and cents*2^-k are exact dyadic doubles on "
        "both engines (no exp() ulp drift); terms older than 40 hours "
        "are dropped by rule (2^-40 is beyond cents resolution anyway) "
        "and the cross-row sum is DECIMAL-quantized, so partition order "
        "cannot move it. Plan: one per-user window max (entity-keyed "
        "shuffle) + one hash aggregate — linear."
    ),
)
def win_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("bigint")
        .alias("xh"),
        cents("value").alias("vc"),
    )
    w = Window.partitionBy("user_id")
    m = e.withColumn("mx", F.max("xh").over(w))
    age = F.col("mx") - F.col("xh")
    recent = F.when(age <= 40, 1).otherwise(0)
    term = F.when(
        age <= 40,
        F.round(F.col("vc") * F.pow(F.lit(2.0), -age), 12).cast(
            "decimal(38,12)"
        ),
    ).otherwise(F.lit(0).cast("decimal(38,12)"))
    return (
        m.select("user_id", recent.alias("recent"), term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.sum("recent").cast("bigint").alias("n_recent"),
            F.round(F.sum("term").cast("double") / 100.0, 6).alias(
                "decay_score"
            ),
        )
    )


@register(
    "events_feature_vector",
    "L",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_clicks,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_views,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purch,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS spend_c,
                   CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
                       AS days_active
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(n_clicks AS DOUBLE) AS f_clicks,
               CAST(n_views AS DOUBLE) AS f_views,
               CAST(n_purch AS DOUBLE) AS f_purch,
               CAST(spend_c AS DOUBLE) / 100.0 AS f_spend,
               CAST(days_active AS DOUBLE) AS f_days_active,
               (n_purch > 0) AS label
        FROM f
    """,
    doc=(
        "Feature-store export: per-user model features in a FIXED "
        "column order plus a binary label — the terminal shape a "
        "training pipeline hands to the trainer (one row per entity; "
        "the trainer assembles the dense vector from the ordered "
        "scalar columns, which keeps the output driver-hashable per "
        "SURVEY §2.0 amendment 11 — no complex-typed output columns). "
        "All five features derive from exact integer accumulators "
        "(conditional counts, cents sum, distinct active days); the "
        "only doubles are final casts, so every cell is hash-exact. "
        "Features are built column-wise AFTER aggregation — never "
        "collect_list of raw events — so per-user state is O(1) and "
        "the plan is one hash aggregate. Swap in more features by "
        "widening the aggregate, not the shuffle."
    ),
)
def events_feature_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    e = load(spark, sf_dir, "events")
    is_t = lambda t: F.when(F.col("event_type") == t, 1).otherwise(0)
    f = e.groupBy("user_id").agg(
        F.sum(is_t("click")).cast("bigint").alias("n_clicks"),
        F.sum(is_t("view")).cast("bigint").alias("n_views"),
        F.sum(is_t("purchase")).cast("bigint").alias("n_purch"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
        )
        .cast("bigint")
        .alias("spend_c"),
        F.countDistinct(F.date_trunc("day", "ts")).cast("bigint").alias(
            "days_active"
        ),
    )
    return f.select(
        "user_id",
        F.col("n_clicks").cast("double").alias("f_clicks"),
        F.col("n_views").cast("double").alias("f_views"),
        F.col("n_purch").cast("double").alias("f_purch"),
        (F.col("spend_c").cast("double") / 100.0).alias("f_spend"),
        F.col("days_active").cast("double").alias("f_days_active"),
        (F.col("n_purch") > 0).alias("label"),
    )


@register(
    "events_concurrency",
    "L",
    oracle="""
        WITH iv AS (
            SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) + 300 AS e
            FROM events
        ),
        deltas AS (
            SELECT s AS t, 1 AS dl FROM iv
            UNION ALL
            SELECT e AS t, -1 AS dl FROM iv
        ),
        net AS (
            SELECT t, CAST(SUM(dl) AS BIGINT) AS net FROM deltas GROUP BY t
        ),
        run AS (
            SELECT t,
                   SUM(net) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS conc
            FROM net
        )
        SELECT CAST(t // 3600 AS BIGINT) AS hour_x,
               CAST(COUNT(*) AS BIGINT) AS n_boundaries,
               CAST(MAX(conc) AS BIGINT) AS max_concurrency
        FROM run
        GROUP BY t // 3600
    """,
    doc=(
        "Interval-overlap concurrency (occupancy counting): each event "
        "opens a 5-minute half-open activity interval; +1/-1 boundary "
        "deltas collapse to net changes per distinct second and ONE "
        "global running sum yields the live-session count at every "
        "boundary — the sweep-line form of 'how many sessions were "
        "open', which the naive interval self-join makes quadratic. "
        "Half-open semantics need no tie rule: +1 and -1 at the same "
        "instant merge into the net BEFORE the scan. The global scan "
        "is the two-pass range-partitioned prefix sum (exact integers, "
        "no single-partition window); output is the per-hour boundary "
        "count and max observed concurrency. Linear: two scans + one "
        "range shuffle of the distinct-second relation."
    ),
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )

    e = load(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").cast("bigint").alias("s")
    )
    deltas = e.select(F.col("s").alias("t"), F.lit(1).alias("dl")).unionAll(
        e.select((F.col("s") + 300).alias("t"), F.lit(-1).alias("dl"))
    )
    net = deltas.groupBy("t").agg(F.sum("dl").cast("bigint").alias("net"))
    run = with_global_prefix_sum(net, [F.col("t").asc()], "net", out="conc")
    return (
        run.groupBy((F.col("t") / 3600).cast("bigint").alias("hour_x"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_boundaries"),
            F.max("conc").cast("bigint").alias("max_concurrency"),
        )
    )


@register(
    "dq_psi_drift",
    "L",
    oracle="""
        WITH binned AS (
            SELECT CAST(hour(ts) AS BIGINT) AS hb,
                   CASE WHEN day(ts) % 2 = 0 THEN 'p' ELSE 'q' END AS grp
            FROM events
        ),
        grid AS (
            SELECT gs.hb FROM (SELECT UNNEST(generate_series(0, 23)) AS hb) gs
        ),
        c AS (
            SELECT g.hb,
                   CAST(COALESCE(SUM(CASE WHEN b.grp = 'p' THEN 1 END), 0)
                        AS BIGINT) AS cp,
                   CAST(COALESCE(SUM(CASE WHEN b.grp = 'q' THEN 1 END), 0)
                        AS BIGINT) AS cq
            FROM grid g LEFT JOIN binned b ON g.hb = b.hb
            GROUP BY g.hb
        ),
        tot AS (SELECT SUM(cp) AS tp, SUM(cq) AS tq FROM c),
        terms AS (
            SELECT c.hb,
                   CAST(ROUND(
                       (CAST(c.cp + 1 AS DOUBLE) / (t.tp + 24)
                        - CAST(c.cq + 1 AS DOUBLE) / (t.tq + 24))
                       * ln((CAST(c.cp + 1 AS DOUBLE) / (t.tp + 24))
                            / (CAST(c.cq + 1 AS DOUBLE) / (t.tq + 24))), 9)
                       AS DECIMAL(38,9)) AS term
            FROM c CROSS JOIN tot t
        )
        SELECT CAST(24 AS BIGINT) AS n_bins,
               ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
        FROM terms
    """,
    doc=(
        "Population Stability Index between the even-day and odd-day "
        "hour-of-day event distributions — the drift score model-"
        "monitoring dashboards alarm on (PSI > 0.2 = shifted), "
        "complementing agg_ks_test's continuous-distribution distance "
        "with the binned-categorical form. Laplace add-1 smoothing "
        "keeps empty bins finite; every count is exact, each bin's "
        "(p-q)*ln(p/q) term is ONE double expression over exact "
        "integers ROUND(...,9)-quantized to DECIMAL before the "
        "cross-bin sum (the llm_text_perplexity discipline — ln() "
        "agrees across engines far beyond 9 decimals on these "
        "magnitudes). Plan: one hash aggregate to 24 bins + broadcast "
        "grid join; linear."
    ),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        F.hour("ts").cast("bigint").alias("hb"),
        F.when(F.dayofmonth("ts") % 2 == 0, "p").otherwise("q").alias("grp"),
    )
    # Aggregate the heavy relation FIRST (24 output rows), then left-join
    # the static bin grid onto the tiny result — never shuffle raw events
    # by a 24-key column.
    ec = e.groupBy("hb").agg(
        F.sum(F.when(F.col("grp") == "p", 1).otherwise(0))
        .cast("bigint")
        .alias("cp_"),
        F.sum(F.when(F.col("grp") == "q", 1).otherwise(0))
        .cast("bigint")
        .alias("cq_"),
    )
    grid = e.sparkSession.range(0, 24).select(F.col("id").alias("hb"))
    c = (
        grid.join(F.broadcast(ec), "hb", "left")
        .select(
            "hb",
            F.coalesce(F.col("cp_"), F.lit(0)).cast("bigint").alias("cp"),
            F.coalesce(F.col("cq_"), F.lit(0)).cast("bigint").alias("cq"),
        )
        .transform(checkpoint)  # bins + totals consumers
    )
    tot = c.agg(F.sum("cp").alias("tp"), F.sum("cq").alias("tq"))
    j = c.crossJoin(F.broadcast(tot))
    p = (F.col("cp") + 1).cast("double") / (F.col("tp") + 24)
    q = (F.col("cq") + 1).cast("double") / (F.col("tq") + 24)
    term = F.round((p - q) * F.log(p / q), 9).cast("decimal(38,9)")
    return j.agg(
        F.lit(24).cast("bigint").alias("n_bins"),
        F.round(F.sum(term).cast("double"), 6).alias("psi"),
    )


@register(
    "ts_yoy_growth",
    "E",
    oracle="""
        WITH rev AS (
            SELECT n.n_name,
                   CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                   CAST(EXTRACT(month FROM o.o_orderdate) AS INT) AS o_month,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name, o_year, o_month
        )
        SELECT a.n_name, a.o_year, a.o_month, a.rev_cents,
               b.rev_cents AS prev_cents,
               CASE WHEN b.rev_cents IS NOT NULL AND b.rev_cents != 0
                    THEN ROUND((a.rev_cents - b.rev_cents)::DOUBLE
                               / b.rev_cents * 100, 6)
               END AS yoy_pct
        FROM rev a
        LEFT JOIN rev b
          ON b.n_name = a.n_name
         AND b.o_year = a.o_year - 1
         AND b.o_month = a.o_month
    """,
    doc=(
        "Year-over-year growth: monthly order revenue per nation with "
        "the same month's prior-year revenue and percent change — the "
        "analytics staple behind every KPI dashboard. The prior-year "
        "value comes from an explicit (nation, year−1, month) equi-"
        "self-join, NOT a lag-12 window: row-offset lag silently reads "
        "the wrong month whenever any month is missing from a partition "
        "(sparse fixture months at small sf, sparse dimensions at any "
        "sf), while the equi-join is gap-correct by construction and "
        "lets Catalyst reuse the aggregate's exchange for both sides. "
        "Money sums in integer cents; the only float is the final "
        "round-6 percentage of two exact integers."
    ),
)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.month("o_orderdate").cast("int").alias("o_month"),
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev_cents"))
    )
    prev = rev.select(
        F.col("n_name").alias("p_name"),
        (F.col("o_year") + 1).alias("p_year"),
        F.col("o_month").alias("p_month"),
        F.col("rev_cents").alias("prev_cents"),
    )
    j = rev.join(
        prev,
        (F.col("n_name") == F.col("p_name"))
        & (F.col("o_year") == F.col("p_year"))
        & (F.col("o_month") == F.col("p_month")),
        "left",
    )
    return j.select(
        "n_name",
        "o_year",
        "o_month",
        "rev_cents",
        "prev_cents",
        F.when(
            F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0),
            F.round(
                (F.col("rev_cents") - F.col("prev_cents")).cast("double")
                / F.col("prev_cents")
                * 100,
                6,
            ),
        ).alias("yoy_pct"),
    )


@register(
    "events_user_overlap",
    "L",
    oracle="""
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM tu GROUP BY event_type
        ),
        shared AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_users
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT s.type_a, s.type_b, sa.n_users AS users_a,
               sb.n_users AS users_b, s.shared_users,
               ROUND(s.shared_users::DOUBLE
                     / (sa.n_users + sb.n_users - s.shared_users), 6)
                   AS jaccard
        FROM shared s
        JOIN sizes sa ON sa.event_type = s.type_a
        JOIN sizes sb ON sb.event_type = s.type_b
    """,
    doc=(
        "AUDIENCE OVERLAP matrix: Jaccard of distinct-user sets for "
        "every event-type pair — the cross-channel audience analysis "
        "behind segment planning (and the user-granularity sibling of "
        "llm_dedup_shingle's sparse set-similarity shape). Sparse "
        "formulation: the distinct (type,user) relation self-joins on "
        "user_id, so work is Σ per-user type-pairs — a user touching t "
        "types costs C(t,2) rows with t bounded by the type vocabulary "
        "(5 here), never |users|² — and the per-type sizes broadcast "
        "back. All counts exact; one round-6 ratio."
    ),
)
def events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    shared = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_users"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("users_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("users_b"))
    jac = F.col("shared_users").cast("double") / (
        F.col("users_a") + F.col("users_b") - F.col("shared_users")
    )
    return (
        shared.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "users_a", "users_b", "shared_users",
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "win_time_weighted_avg",
    "E",
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
                   epoch_us(ts) AS t_us,
                   LEAD(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_us
            FROM events
        ),
        seg AS (
            SELECT user_id, vc, next_us - t_us AS dur_us
            FROM seq WHERE next_us IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
               ROUND(SUM(CAST(vc AS DECIMAL(38,0)) * dur_us)::DOUBLE
                     / SUM(dur_us) / 100, 6) AS twap
        FROM seg
        GROUP BY user_id
        HAVING COUNT(*) > 0
    """,
    doc=(
        "TIME-WEIGHTED average (TWAP): each event's value holds until "
        "the user's next event, so the average weights by exact "
        "microsecond duration instead of event count — the standard "
        "correction when sampling is irregular (ts_ewma decays by "
        "event order; this weights by wall time; a burst of identical "
        "readings no longer dominates the mean). All arithmetic exact: "
        "integer cents × unix_micros durations accumulated in "
        "DECIMAL(38,0) (value·duration products exceed what a "
        "worst-case BIGINT guarantees at wide spans — §2.0 rule 2), "
        "one terminal round-6 division. One partitioned window (lead) "
        "+ one hash aggregate; the last event per user carries no "
        "duration and drops on both engines."
    ),
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        cents("value").alias("vc"),
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    seg = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id", "vc", (F.col("next_us") - F.col("t_us")).alias("dur_us")
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.round(
            F.sum(F.col("vc").cast("decimal(38,0)") * F.col("dur_us"))
            .cast("double")
            / F.sum("dur_us")
            / 100,
            6,
        ).alias("twap"),
    )


@register(
    "ts_sax",
    "E",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT user_id, COUNT(*) AS n, SUM(xc) AS s,
                   SUM(CAST(xc * xc AS DECIMAL(38,0))) AS ss
            FROM daily GROUP BY user_id HAVING COUNT(*) >= 8
        ),
        z AS (
            SELECT daily.user_id, daily.d, m.n,
                   CAST(ROUND(
                       (CAST(daily.xc AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n)
                       / sqrt((CAST(m.ss AS DOUBLE)
                               - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) / m.n)
                              / (m.n - 1)), 6) AS DECIMAL(18,6)) AS zq,
                   ROW_NUMBER() OVER (
                       PARTITION BY daily.user_id ORDER BY daily.d) AS rn
            FROM daily JOIN m ON daily.user_id = m.user_id
        ),
        paa AS (
            SELECT user_id, (rn - 1) // 4 AS seg,
                   CAST(SUM(zq) AS DOUBLE) / COUNT(*) AS pv
            FROM z GROUP BY 1, 2 HAVING COUNT(*) = 4
        ),
        sym AS (
            SELECT user_id, seg,
                   CASE WHEN pv < -0.6745 THEN 'a'
                        WHEN pv < 0.0 THEN 'b'
                        WHEN pv < 0.6745 THEN 'c'
                        ELSE 'd' END AS s
            FROM paa
        )
        SELECT user_id,
               CAST(COUNT(*) AS INT) AS n_segments,
               string_agg(s, '' ORDER BY seg) AS sax_word
        FROM sym GROUP BY user_id
    """,
    doc=(
        "SAX — Symbolic Aggregate approXimation (Lin, Keogh et al., "
        "DMKD 2003): each user's daily-total series is z-normalized, "
        "Piecewise-Aggregate-Approximated over 4-day segments, and "
        "quantized to the 4-letter Gaussian-breakpoint alphabet "
        "(±0.6745, 0 — the equiprobable N(0,1) quartile cuts), yielding "
        "one index-able symbolic word per user. Determinism: moments "
        "are exact (cents, DECIMAL(38,0) squares), z is one IEEE "
        "expression then QUANTIZED to DECIMAL(18,6) before the PAA sum "
        "(§2.0 rule 2 — a double sum would be order-sensitive), and "
        "trailing partial segments are dropped (HAVING n=4) so both "
        "engines segment identically. Plan: per-user aggregates and "
        "windows only — parallelism = users; the word assembles with an "
        "ordered string_agg / sorted-struct transform, no collect."
    ),
)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("user_id", "d").agg(F.sum("_vc").alias("xc"))
    m = (
        daily.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xc").alias("s"),
            F.sum((F.col("xc") * F.col("xc")).cast("decimal(38,0)")).alias("ss"),
        )
        .filter(F.col("n") >= 8)
    )
    s_d = F.col("s").cast("double")
    var = (F.col("ss").cast("double") - s_d * s_d / F.col("n")) / (
        F.col("n") - 1
    )
    z = (
        daily.join(m, "user_id")
        .withColumn(
            "zq",
            F.round(
                (F.col("xc").cast("double") - s_d / F.col("n")) / F.sqrt(var),
                6,
            ).cast("decimal(18,6)"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("d")
            ),
        )
    )
    paa = (
        z.groupBy("user_id", ((F.col("rn") - 1) / 4).cast("int").alias("seg"))
        .agg(
            (F.sum("zq").cast("double") / F.count(F.lit(1))).alias("pv"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .filter(F.col("_cnt") == 4)
    )
    sym = paa.withColumn(
        "sym",
        F.when(F.col("pv") < -0.6745, "a")
        .when(F.col("pv") < 0.0, "b")
        .when(F.col("pv") < 0.6745, "c")
        .otherwise("d"),
    )
    return sym.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("seg"), F.col("sym")))
                ),
                lambda x: x.sym,
            ),
        ).alias("sax_word"),
    )


@register(
    "ts_rsi",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        delta AS (
            SELECT event_type, d,
                   xc - LAG(xc) OVER (
                       PARTITION BY event_type ORDER BY d) AS dx
            FROM daily
        ),
        gl AS (
            SELECT event_type, d,
                   GREATEST(dx, 0) AS gain, GREATEST(-dx, 0) AS loss,
                   COUNT(dx) OVER w AS n14,
                   SUM(GREATEST(dx, 0)) OVER w AS sg,
                   SUM(GREATEST(-dx, 0)) OVER w AS sl
            FROM delta WHERE dx IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               ROUND(CASE WHEN sl = 0 THEN 100.0
                          ELSE 100.0 - 100.0
                               / (1.0 + CAST(sg AS DOUBLE) / sl) END,
                     6) AS rsi14
        FROM gl WHERE n14 = 14
    """,
    doc=(
        "RSI-14 (Wilder's Relative Strength Index, simple-average form) "
        "per event-type daily series: gains/losses from day-over-day "
        "deltas of exact-cents daily totals, 14-period rolling sums, "
        "RSI = 100 − 100/(1 + Σgain/Σloss) with the all-gain series "
        "pinned to 100 — emitted only where the window holds a full 14 "
        "deltas (partial warm-up rows differ per engine's frame "
        "semantics otherwise). The sg/sl INTEGER rolling sums make the "
        "single terminal division the entire float surface. Windows "
        "partition by event_type (the series key); day serialized to "
        "ISO string per §2.0 rule 9 (no DATE columns). The named-window "
        "SQL (WINDOW w AS ...) doubles as the sql_window_clause "
        "surface demo on the oracle side."
    ),
)
def ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    w_lag = Window.partitionBy("event_type").orderBy("d")
    delta = daily.withColumn(
        "dx", F.col("xc") - F.lag("xc").over(w_lag)
    ).filter(F.col("dx").isNotNull())
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, Window.currentRow)
    )
    gl = (
        delta.withColumn("gain", F.greatest(F.col("dx"), F.lit(0)))
        .withColumn("loss", F.greatest(-F.col("dx"), F.lit(0)))
        .withColumn("n14", F.count("dx").over(w14))
        .withColumn("sg", F.sum("gain").over(w14))
        .withColumn("sl", F.sum("loss").over(w14))
        .filter(F.col("n14") == 14)
    )
    return gl.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(
            F.when(F.col("sl") == 0, F.lit(100.0)).otherwise(
                F.lit(100.0)
                - F.lit(100.0)
                / (F.lit(1.0) + F.col("sg").cast("double") / F.col("sl"))
            ),
            6,
        ).alias("rsi14"),
    )


# Literal trig table for ts_periodogram: one (period, phase) -> (cos, sin)
# row per distinct argument, frozen as 12-dp Python floats at import and
# injected VERBATIM into both the Spark plan and the oracle SQL — the two
# engines never call their own cos/sin on the data path, so libm ulp drift
# cannot flip a rounded term (the hazard that killed a float-blended MMR
# score; same literal-constant discipline as portable_hash.MIX).
import math as _math

PERIODOGRAM_PERIODS = (7, 14, 30)
TRIG_TABLE: list[tuple[int, int, float, float]] = [
    (p, t,
     round(_math.cos(2.0 * _math.pi * t / p), 12),
     round(_math.sin(2.0 * _math.pi * t / p), 12))
    for p in PERIODOGRAM_PERIODS
    for t in range(p)
]

_TRIG_SQL_ROWS = ",\n                ".join(
    f"({p}, {t}, {c!r}, {s!r})" for p, t, c, s in TRIG_TABLE
)


@register(
    "ts_periodogram",
    "E",
    oracle=f"""
        WITH trig(period, phase, cosv, sinv) AS (
            VALUES {_TRIG_SQL_ROWS}
        ),
        daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, xc,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY d) - 1 AS t,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   SUM(xc) OVER (PARTITION BY event_type) AS s
            FROM daily
        ),
        terms AS (
            SELECT i.event_type, tr.period, i.n,
                   CAST(ROUND((CAST(i.xc AS DOUBLE) - CAST(i.s AS DOUBLE) / i.n)
                              * tr.cosv, 6) AS DECIMAL(38,6)) AS tc,
                   CAST(ROUND((CAST(i.xc AS DOUBLE) - CAST(i.s AS DOUBLE) / i.n)
                              * tr.sinv, 6) AS DECIMAL(38,6)) AS ts
            FROM idx i
            JOIN trig tr ON tr.phase = i.t % tr.period
        ),
        power AS (
            SELECT event_type, period, CAST(ANY_VALUE(n) AS BIGINT) AS n_days,
                   ROUND(sqrt(CAST(SUM(tc) AS DOUBLE) * CAST(SUM(tc) AS DOUBLE)
                              + CAST(SUM(ts) AS DOUBLE) * CAST(SUM(ts) AS DOUBLE))
                         / ANY_VALUE(n) / 100.0, 6) AS amplitude
            FROM terms GROUP BY event_type, period
        )
        SELECT event_type, CAST(period AS INT) AS period, n_days, amplitude,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY amplitude DESC, period ASC) AS INT) AS power_rank
        FROM power
    """,
    doc=(
        "PERIODOGRAM probe at candidate periods {{7, 14, 30}} days per "
        "event-type series — the Schuster/DFT-bin seasonality detector: "
        "amplitude(p) = |Σ (x_t − x̄)·e^(−2πi·t/p)| / n over the "
        "mean-removed daily cents series, ranked so power_rank = 1 "
        "flags the dominant cycle (the screening step before "
        "ts_seasonal_decompose commits to a period). cos/sin come from "
        "a FROZEN literal table keyed by (period, t mod period) — 51 "
        "rows injected identically into both engines, so the data path "
        "is: exact-integer x, one exact-rational mean, one double "
        "product per term ROUND→DECIMAL(38,6) (order-invariant sum, "
        "§2.0 rule 2), one terminal sqrt. Plan: per-type day windows + "
        "a 51-row broadcast join + hash aggregate — linear, no global "
        "window, no libm on the distributed path."
    ),
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_all = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "xc",
        (F.row_number().over(w_ord) - 1).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("xc").over(w_all).alias("s"),
    )
    trig = F.broadcast(
        local_frame(
            daily.sparkSession,
            TRIG_TABLE,
            "period int, phase int, cosv double, sinv double",
        )
    )
    dev = F.col("xc").cast("double") - F.col("s").cast("double") / F.col("n")
    terms = idx.join(
        trig, trig.phase == F.col("t") % trig.period
    ).select(
        "event_type",
        "period",
        "n",
        F.round(dev * F.col("cosv"), 6).cast("decimal(38,6)").alias("tc"),
        F.round(dev * F.col("sinv"), 6).cast("decimal(38,6)").alias("ts"),
    )
    power = terms.groupBy("event_type", "period").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.round(
            F.sqrt(
                F.sum("tc").cast("double") * F.sum("tc").cast("double")
                + F.sum("ts").cast("double") * F.sum("ts").cast("double")
            )
            / F.max("n")
            / 100.0,
            6,
        ).alias("amplitude"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("amplitude").desc(), F.col("period").asc()
    )
    return power.select(
        "event_type",
        F.col("period").cast("int").alias("period"),
        "n_days",
        "amplitude",
        F.row_number().over(w_rank).cast("int").alias("power_rank"),
    )


@register(
    "events_bot_score",
    "L",
    oracle="""
        WITH base AS (
            SELECT user_id, ts, event_id,
                   date_trunc('minute', ts) AS minute
            FROM events
        ),
        per_minute AS (
            SELECT user_id, minute, COUNT(*) AS c
            FROM base GROUP BY 1, 2
        ),
        peak AS (
            SELECT user_id, CAST(MAX(c) AS BIGINT) AS peak_per_minute,
                   CAST(SUM(c) AS BIGINT) AS n_events
            FROM per_minute GROUP BY user_id
        ),
        gaps AS (
            SELECT user_id,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS g
            FROM base
        ),
        gm AS (
            SELECT user_id, COUNT(g) AS ng, SUM(g) AS s,
                   SUM(CAST(g AS DECIMAL(19,0)) * g) AS ss
            FROM gaps WHERE g IS NOT NULL GROUP BY user_id
        ),
        cv AS (
            SELECT user_id,
                   CASE WHEN ng >= 2 AND s > 0 THEN
                       ROUND(sqrt((CAST(ss AS DOUBLE)
                                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / ng)
                                  / (ng - 1))
                             / (CAST(s AS DOUBLE) / ng), 6)
                   END AS gap_cv
            FROM gm
        )
        SELECT p.user_id, p.n_events, p.peak_per_minute, cv.gap_cv,
               (p.peak_per_minute >= 5
                OR (cv.gap_cv IS NOT NULL AND cv.gap_cv < 0.1)) AS is_bot
        FROM peak p LEFT JOIN cv ON cv.user_id = p.user_id
    """,
    doc=(
        "BOT / AUTOMATION SCORING over behavioral event streams — the "
        "traffic-cleaning gate a training pipeline runs before user "
        "data enters a corpus: per user, (a) burst rate = max events in "
        "any calendar minute, (b) inter-event REGULARITY = coefficient "
        "of variation of gap lengths (machines fire on timers → "
        "near-zero CV; humans are bursty → CV ≳ 1). Gaps in exact "
        "integer MICROSECONDS (unix_micros — the events_time_to_convert "
        "convention), moments exact (DECIMAL(38,0) squares), CV one "
        "IEEE expression, flags integer. is_bot = burst ≥ 5/min OR "
        "CV < 0.1. Plan: one minute-bucket aggregate + one per-user lag "
        "window + per-user moment aggregate — all user-keyed, linear; "
        "thresholds are plan constants a real deployment would tune."
    ),
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    per_min = e.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("c"))
    peak = per_min.groupBy("user_id").agg(
        F.max("c").cast("bigint").alias("peak_per_minute"),
        F.sum("c").cast("bigint").alias("n_events"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("g"),
    ).filter(F.col("g").isNotNull())
    gm = gaps.groupBy("user_id").agg(
        F.count("g").alias("ng"),
        F.sum("g").alias("s"),
        F.sum(F.col("g").cast("decimal(19,0)") * F.col("g")).alias("ss"),
    )
    s_d = F.col("s").cast("double")
    cv_expr = F.round(
        F.sqrt(
            (F.col("ss").cast("double") - s_d * s_d / F.col("ng"))
            / (F.col("ng") - 1)
        )
        / (s_d / F.col("ng")),
        6,
    )
    cv = gm.select(
        "user_id",
        F.when((F.col("ng") >= 2) & (F.col("s") > 0), cv_expr).alias(
            "gap_cv"
        ),
    )
    return peak.join(cv, "user_id", "left").select(
        "user_id",
        "n_events",
        "peak_per_minute",
        "gap_cv",
        (
            (F.col("peak_per_minute") >= 5)
            | (F.col("gap_cv").isNotNull() & (F.col("gap_cv") < 0.1))
        ).alias("is_bot"),
    )


@register(
    "events_markov_stationary",
    "L",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        trans0 AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        trans AS (
            SELECT * FROM trans0
            WHERE next_type IN (SELECT DISTINCT prev_type FROM trans0)
        ),
        totals AS (
            SELECT prev_type, SUM(n) AS total FROM trans GROUP BY prev_type
        ),
        kk AS (SELECT COUNT(*) AS k FROM totals),
        p AS (
            SELECT t.prev_type AS i, t.next_type AS j,
                   CAST(t.n AS DOUBLE) / tt.total AS pij
            FROM trans t JOIN totals tt ON tt.prev_type = t.prev_type
        ),
        pi0 AS (
            SELECT prev_type AS state, 1.0 / kk.k AS pi
            FROM totals CROSS JOIN kk
        ),
        it1 AS (
            SELECT p.j AS state,
                   CAST(SUM(CAST(ROUND(pi0.pi * p.pij, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) AS pi
            FROM pi0 JOIN p ON p.i = pi0.state GROUP BY p.j
        ),
        it2 AS (
            SELECT p.j AS state,
                   CAST(SUM(CAST(ROUND(it1.pi * p.pij, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) AS pi
            FROM it1 JOIN p ON p.i = it1.state GROUP BY p.j
        ),
        it3 AS (
            SELECT p.j AS state,
                   CAST(SUM(CAST(ROUND(it2.pi * p.pij, 9) AS DECIMAL(38,9)))
                        AS DOUBLE) AS pi
            FROM it2 JOIN p ON p.i = it2.state GROUP BY p.j
        )
        SELECT it3.state, CAST(kk.k AS INT) AS n_states,
               ROUND(it3.pi, 6) AS pi
        FROM it3 CROSS JOIN kk
    """,
    doc=(
        "STATIONARY DISTRIBUTION of the per-user event-type Markov "
        "chain by 3 fixed power iterations from uniform — the "
        "steady-state companion to events_transition_matrix (which "
        "reports P itself), answering 'where does a user session "
        "settle'. The chain is restricted to states with outgoing "
        "transitions so P is row-stochastic on its support. Each "
        "iteration's π·P terms are ROUND(...,9)→DECIMAL(38,9) before "
        "the per-state sum (order-invariant — the chisq/psi term "
        "discipline), so the 3-step trace is bit-identical in the "
        "unrolled DuckDB CTE chain. Event-scale work is ONE per-user "
        "lag window + one hash aggregate; the iteration runs on the "
        "|types|²-bounded transition relation — the pagerank shape "
        "with a constant-size state (fixed 3 iterations ≡ llm_bpe "
        "fixed-merge-count discipline for unrolled-oracle parity)."
    ),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans0 = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    trans = trans0.join(
        trans0.select(F.col("prev_type").alias("next_type")).distinct(),
        "next_type",
        "left_semi",
    ).transform(checkpoint)  # consumed by totals + p + the 3 iterations
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("total"))
    kk = totals.agg(F.count(F.lit(1)).alias("k"))
    p = (
        trans.join(F.broadcast(totals), "prev_type")
        .select(
            F.col("prev_type").alias("i"),
            F.col("next_type").alias("j"),
            (F.col("n").cast("double") / F.col("total")).alias("pij"),
        )
        .transform(checkpoint)
    )
    pi = totals.crossJoin(F.broadcast(kk)).select(
        F.col("prev_type").alias("state"), (F.lit(1.0) / F.col("k")).alias("pi")
    )
    for _ in range(3):
        pi = (
            pi.join(p, pi.state == p.i)
            .groupBy(F.col("j").alias("state"))
            .agg(
                F.sum(
                    F.round(F.col("pi") * F.col("pij"), 9).cast(
                        "decimal(38,9)"
                    )
                )
                .cast("double")
                .alias("pi")
            )
        )
    return pi.crossJoin(F.broadcast(kk)).select(
        "state", F.col("k").cast("int").alias("n_states"), F.round("pi", 6).alias("pi")
    )


@register(
    "ts_croston",
    "E",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type,
                   date_diff('day',
                             MIN(d) OVER (PARTITION BY event_type), d) AS t,
                   xc
            FROM daily
        ),
        h AS (
            SELECT event_type,
                   list(t ORDER BY t) AS ts_l,
                   list(xc ORDER BY t) AS xs_l,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM idx GROUP BY event_type HAVING COUNT(*) >= 2
        ),
        r AS (
            SELECT event_type, ts_l, xs_l, n, 1 AS i,
                   CAST(xs_l[1] AS DOUBLE) AS z,
                   CAST(ts_l[1] + 1 AS DOUBLE) AS p,
                   ts_l[1] AS prev_t
            FROM h
            UNION ALL
            SELECT event_type, ts_l, xs_l, n, i + 1,
                   0.1 * CAST(xs_l[i + 1] AS DOUBLE) + 0.9 * z,
                   0.1 * CAST(ts_l[i + 1] - prev_t AS DOUBLE) + 0.9 * p,
                   ts_l[i + 1]
            FROM r WHERE i < n
        )
        SELECT event_type, n AS n_demand_days,
               CAST(FLOOR((z) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS level_cents,
               CAST(FLOOR((p) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_interval,
               CAST(FLOOR((z / p) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS croston_forecast
        FROM r WHERE i = n
    """,
    doc=(
        "CROSTON'S METHOD for intermittent demand (Croston, Oper. Res. "
        "Q. 1972): two coupled EWMAs over the DEMAND points only — "
        "level z over nonzero-day sizes, p over inter-demand intervals "
        "(α = 0.1) — with forecast-per-period z/p; the standard "
        "forecaster when a naive EWMA over the zero-heavy series "
        "biases toward zero (spare parts, sparse event streams). The "
        "sequential recurrence folds per event_type over the "
        "day-index-sorted demand list (sort_array + F.aggregate — the "
        "ts_holt_linear fold discipline; identical expression order "
        "replayed by the DuckDB recursive CTE). Day indexes are exact "
        "integer day-diffs from the series start, sizes exact cents; "
        "the fold is the per-entity O(n) any sequential smoother "
        "costs, parallelism = series count."
    ),
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    w_min = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.min("d").over(w_min)).alias("t"),
        "xc",
    )
    h = (
        idx.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list(F.struct("t", "xc"))).alias("hh"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    ts_l = F.transform(F.col("hh"), lambda s: s["t"])
    xs_l = F.transform(F.col("hh"), lambda s: s["xc"])
    z0 = F.element_at(xs_l, 1).cast("double")
    p0 = (F.element_at(ts_l, 1) + 1).cast("double")

    def step(acc, s):
        z_new = F.lit(0.1) * s["xc"].cast("double") + F.lit(0.9) * acc["z"]
        p_new = (
            F.lit(0.1) * (s["t"] - acc["prev_t"]).cast("double")
            + F.lit(0.9) * acc["p"]
        )
        return F.struct(
            z_new.alias("z"), p_new.alias("p"), s["t"].alias("prev_t")
        )

    folded = F.aggregate(
        F.slice(F.col("hh"), 2, F.size(F.col("hh")) - 1),
        F.struct(
            z0.alias("z"), p0.alias("p"), F.element_at(ts_l, 1).alias("prev_t")
        ),
        step,
    )
    return h.select(
        "event_type",
        F.col("n").alias("n_demand_days"),
        _pround6(folded["z"]).alias("level_cents"),
        _pround6(folded["p"]).alias("mean_interval"),
        _pround6(folded["z"] / folded["p"]).alias("croston_forecast"),
    )


@register(
    "ts_haar_energy",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, xc,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY d) AS rn
            FROM daily
            QUALIFY COUNT(*) OVER (PARTITION BY event_type) >= 8
        ),
        w AS (SELECT * FROM idx WHERE rn <= 8),
        l1 AS (
            SELECT event_type, (rn - 1) // 2 AS k,
                   SUM(CASE WHEN rn % 2 = 1 THEN xc ELSE -xc END) AS det,
                   SUM(xc) AS app
            FROM w GROUP BY 1, 2
        ),
        l2 AS (
            SELECT event_type, k // 2 AS k,
                   SUM(CASE WHEN k % 2 = 0 THEN app ELSE -app END) AS det,
                   SUM(app) AS app
            FROM l1 GROUP BY 1, 2
        ),
        l3 AS (
            SELECT event_type,
                   SUM(CASE WHEN k % 2 = 0 THEN app ELSE -app END) AS det,
                   SUM(app) AS app
            FROM l2 GROUP BY 1
        )
        SELECT l3.event_type,
               CAST(8 AS INT) AS n_days_used,
               CAST((SELECT SUM(det * det) FROM l1 i
                     WHERE i.event_type = l3.event_type) AS BIGINT) AS e1,
               CAST((SELECT SUM(det * det) FROM l2 i
                     WHERE i.event_type = l3.event_type) AS BIGINT) AS e2,
               CAST(l3.det * l3.det AS BIGINT) AS e3,
               CAST(l3.app AS BIGINT) AS approx_sum
        FROM l3
    """,
    doc=(
        "HAAR WAVELET multi-resolution energy decomposition (unnormalized "
        "Haar transform over the first 8 days of each event-type daily "
        "series): level-1/2/3 detail energies Σd² separate fast "
        "day-to-day variation (e1) from 2-day (e2) and 4-day (e3) "
        "structure — the multi-resolution screen wavelet-based "
        "similarity/compression papers build on (Chan & Fu, ICDE 1999). "
        "The pairwise butterfly is three sign-conditional integer "
        "aggregates (odd−even per pair) — ZERO float operations "
        "anywhere, the strongest determinism class in the suite; at "
        "scales where cents² sums could exceed BIGINT the accumulators "
        "widen to DECIMAL(38,0) (plans/determinism.py posture). "
        "Parallelism = series count; each level halves the relation."
    ),
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    w_ord = Window.partitionBy("event_type").orderBy("d")
    w_all = Window.partitionBy("event_type")
    idx = (
        daily.withColumn("rn", F.row_number().over(w_ord))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .filter((F.col("_n") >= 8) & (F.col("rn") <= 8))
    )
    l1 = idx.groupBy(
        "event_type", ((F.col("rn") - 1) / 2).cast("long").alias("k")
    ).agg(
        F.sum(
            F.when(F.col("rn") % 2 == 1, F.col("xc")).otherwise(-F.col("xc"))
        ).alias("det"),
        F.sum("xc").alias("app"),
    )
    l2 = l1.groupBy(
        "event_type", (F.col("k") / 2).cast("long").alias("k")
    ).agg(
        F.sum(
            F.when(F.col("k") % 2 == 0, F.col("app")).otherwise(-F.col("app"))
        ).alias("det"),
        F.sum("app").alias("app"),
    )
    l3 = l2.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("k") % 2 == 0, F.col("app")).otherwise(-F.col("app"))
        ).alias("det"),
        F.sum("app").alias("app"),
    )
    e1 = l1.groupBy("event_type").agg(
        F.sum(F.col("det") * F.col("det")).cast("bigint").alias("e1")
    )
    e2 = l2.groupBy("event_type").agg(
        F.sum(F.col("det") * F.col("det")).cast("bigint").alias("e2")
    )
    return (
        l3.join(e1, "event_type")
        .join(e2, "event_type")
        .select(
            "event_type",
            F.lit(8).cast("int").alias("n_days_used"),
            "e1",
            "e2",
            (F.col("det") * F.col("det")).cast("bigint").alias("e3"),
            F.col("app").cast("bigint").alias("approx_sum"),
        )
    )


# Holt-Winters recurrence, shared between the Spark fold and the DuckDB
# recursive CTE as ONE SQL text (inlined everywhere it recurs — neither
# engine may bind an intermediate, so both replay the identical IEEE
# expression tree; the ts_croston discipline with a seasonal array).
_HW_L = (
    "(0.2 * (CAST(xs_l[i] AS DOUBLE) - sarr[((i - 1) % 7) + 1])"
    " + 0.8 * (l + b))"
)
_HW_L0 = "(CAST(list_sum(xs_l[1:7]) AS DOUBLE) / 7.0)"
_HW_B0 = (
    "((CAST(list_sum(xs_l[8:14]) AS DOUBLE) / 7.0"
    f" - {_HW_L0}) / 7.0)"
)


@register(
    "ts_holt_winters",
    "E",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT event_type, MIN(d) AS d0, MAX(d) AS d1
            FROM daily GROUP BY event_type
        ),
        spine AS (
            SELECT b.event_type, UNNEST(generate_series(b.d0, b.d1,
                   INTERVAL 1 DAY)) AS d
            FROM bounds b
        ),
        series AS (
            SELECT s.event_type, s.d, COALESCE(dy.xc, 0) AS xc
            FROM spine s
            LEFT JOIN daily dy
              ON dy.event_type = s.event_type AND dy.d = s.d
        ),
        h AS (
            SELECT event_type,
                   list(xc ORDER BY d) AS xs_l,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM series GROUP BY event_type HAVING COUNT(*) >= 14
        ),
        r AS (
            SELECT event_type, xs_l, n, 8 AS i,
                   {_HW_L0} AS l,
                   {_HW_B0} AS b,
                   [CAST(xs_l[j] AS DOUBLE) - {_HW_L0}
                    FOR j IN [1, 2, 3, 4, 5, 6, 7]] AS sarr
            FROM h
            UNION ALL
            SELECT event_type, xs_l, n, i + 1,
                   {_HW_L} AS l,
                   0.1 * ({_HW_L} - l) + 0.9 * b AS b,
                   [CASE WHEN j = ((i - 1) % 7) + 1
                         THEN 0.3 * (CAST(xs_l[i] AS DOUBLE) - {_HW_L})
                              + 0.7 * sarr[((i - 1) % 7) + 1]
                         ELSE sarr[j] END
                    FOR j IN [1, 2, 3, 4, 5, 6, 7]] AS sarr
            FROM r WHERE i <= n
        )
        SELECT event_type, n AS n_days,
               CAST(FLOOR((l) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS level_cents,
               CAST(FLOOR((b) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS trend_cents,
               CAST(FLOOR((l + 1.0 * b + sarr[(n % 7) + 1]) * 1000000.0 + 0.5)
                    AS BIGINT) / 1000000.0 AS forecast_1,
               CAST(FLOOR((l + 7.0 * b + sarr[((n + 6) % 7) + 1]) * 1000000.0 + 0.5)
                    AS BIGINT) / 1000000.0 AS forecast_7
        FROM r WHERE i = n + 1
    """,
    doc=(
        "HOLT-WINTERS additive triple exponential smoothing (Winters, "
        "Mgmt. Sci. 1960; α=0.2 β=0.1 γ=0.3, season m=7): level, trend, "
        "and a 7-slot day-of-week seasonal array folded over each "
        "event_type's gap-filled daily cents series (zero-filled spine "
        "so weekly phase is preserved — the seasonal sibling of "
        "ts_holt_linear, and the classic next step when ts_ewma/holt "
        "under-fit weekly periodicity). Init is the standard simple "
        "scheme: l0 = mean of week 1, b0 = (mean week 2 − mean week 1)"
        "/7, s_j = x_j − l0. Determinism: the recurrence is ONE shared "
        "SQL text inlined at every recurrence site (module constant "
        "_HW_L — neither engine binds intermediates, so both replay "
        "bit-identical IEEE trees, the ts_croston fold discipline "
        "extended with a seasonal-array member updated by indexed "
        "transform). Inputs exact cents; outputs round-6. Plan: one "
        "groupBy to daily cents, a per-type day spine (explode "
        "sequence), then the per-entity O(n) sequential fold every "
        "smoother costs — parallelism = series count, no global state, "
        "the 100 TB posture identical to holt/croston."
    ),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("d"),
    )
    series = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce(F.col("xc"), F.lit(0)).alias("xc")
    )
    h = (
        series.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 14)
    )
    xs = F.col("xs")
    lsum = lambda lo, cnt: F.aggregate(  # noqa: E731 — exact long sum
        F.slice(xs, lo, cnt), F.lit(0).cast("long"), lambda a, x: a + x
    )
    l0 = lsum(1, 7).cast("double") / F.lit(7.0)
    b0 = (lsum(8, 7).cast("double") / F.lit(7.0) - l0) / F.lit(7.0)
    s_init = F.transform(
        F.slice(xs, 1, 7), lambda x: x.cast("double") - l0
    )

    def step(acc, x):
        k = ((acc["i"] - 1) % 7) + 1
        s_old = F.element_at(acc["sarr"], k)
        xd = x.cast("double")
        l_new = (
            F.lit(0.2) * (xd - s_old)
            + F.lit(0.8) * (acc["l"] + acc["b"])
        )
        b_new = F.lit(0.1) * (l_new - acc["l"]) + F.lit(0.9) * acc["b"]
        s_new = F.lit(0.3) * (xd - l_new) + F.lit(0.7) * s_old
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["i"] + 1).alias("i"),
            F.transform(
                acc["sarr"],
                lambda v, j0: F.when((j0 + 1) == k, s_new).otherwise(v),
            ).alias("sarr"),
        )

    folded = F.aggregate(
        F.slice(xs, 8, F.size(xs) - 7),
        F.struct(
            l0.alias("l"),
            b0.alias("b"),
            F.lit(8).alias("i"),
            s_init.alias("sarr"),
        ),
        step,
    )
    return h.select(
        "event_type",
        F.col("n").alias("n_days"),
        _pround6(folded["l"]).alias("level_cents"),
        _pround6(folded["b"]).alias("trend_cents"),
        _pround6(
            folded["l"]
            + F.lit(1.0) * folded["b"]
            + F.element_at(folded["sarr"], (F.col("n") % 7 + 1).cast("int"))
        ).alias("forecast_1"),
        _pround6(
            folded["l"]
            + F.lit(7.0) * folded["b"]
            + F.element_at(
                folded["sarr"], ((F.col("n") + 6) % 7 + 1).cast("int")
            )
        ).alias("forecast_7"),
    )


@register(
    "ts_bollinger",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS xc
            FROM events GROUP BY 1, 2
        ),
        win AS (
            SELECT event_type, d, xc,
                   CAST(SUM(xc) OVER w AS BIGINT) AS sx,
                   CAST(SUM(xc * xc) OVER w AS BIGINT) AS sxx,
                   CAST(COUNT(*) OVER w AS BIGINT) AS cnt
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
               xc AS close_cents,
               ROUND(CAST(sx AS DOUBLE) / 20.0, 6) AS sma,
               ROUND(CAST(sx AS DOUBLE) / 20.0
                     + 2.0 * sqrt((CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * sx / 20.0) / 20.0),
                     6) AS upper_band,
               ROUND(CAST(sx AS DOUBLE) / 20.0
                     - 2.0 * sqrt((CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * sx / 20.0) / 20.0),
                     6) AS lower_band,
               CAST(CASE
                   WHEN CAST(xc AS DOUBLE) > CAST(sx AS DOUBLE) / 20.0
                        + 2.0 * sqrt((CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * sx / 20.0) / 20.0)
                       THEN 1
                   WHEN CAST(xc AS DOUBLE) < CAST(sx AS DOUBLE) / 20.0
                        - 2.0 * sqrt((CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * sx / 20.0) / 20.0)
                       THEN -1
                   ELSE 0 END AS INT) AS breakout
        FROM win WHERE cnt = 20
    """,
    doc=(
        "BOLLINGER BANDS (Bollinger, 1980s; the running-σ band chart "
        "every monitoring and trading stack draws): 20-day rolling "
        "mean ± 2 population σ over each event_type's daily cents "
        "close, with a breakout flag (+1 above, −1 below). σ derives "
        "from EXACT integer window moments (Σx, Σx² over cents longs — "
        "order-invariant under any partitioning; cents² × 20 is far "
        "inside int64), so the only float work is the final fixed-"
        "order mean/σ expression; sqrt is IEEE-754 correctly-rounded "
        "(unlike sin/cos, which the repo freezes into literal tables), "
        "so both engines produce bit-identical bands, and the breakout "
        "comparison compares the SAME two bit-identical doubles in "
        "both engines. Emitted only where the window is full "
        "(cnt = 20) — partial-window edges are where engines disagree "
        "on semantics. Plan: one daily aggregate, one partitioned "
        "ROWS-frame window — parallelism = series count, the "
        "win_sliding_avg cost shape with two extra moment columns."
    ),
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-19, Window.currentRow)
    )
    win = daily.select(
        "event_type",
        "d",
        "xc",
        F.sum("xc").over(w).cast("bigint").alias("sx"),
        F.sum(F.col("xc") * F.col("xc")).over(w).cast("bigint").alias("sxx"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt"),
    ).filter(F.col("cnt") == 20)
    sma = F.col("sx").cast("double") / F.lit(20.0)
    sigma = F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.lit(20.0)
        )
        / F.lit(20.0)
    )
    upper = sma + F.lit(2.0) * sigma
    lower = sma - F.lit(2.0) * sigma
    return win.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("xc").alias("close_cents"),
        F.round(sma, 6).alias("sma"),
        F.round(upper, 6).alias("upper_band"),
        F.round(lower, 6).alias("lower_band"),
        F.when(F.col("xc").cast("double") > upper, 1)
        .when(F.col("xc").cast("double") < lower, -1)
        .otherwise(0)
        .cast("int")
        .alias("breakout"),
    )


# Kalman local-level recurrence — ONE shared SQL text (the _HW_L
# discipline): the gain k is inlined at both of its use sites so
# neither engine binds an intermediate.
_KF_PP = "(p + 100.0)"
_KF_K = f"({_KF_PP} / ({_KF_PP} + 10000.0))"


@register(
    "ts_kalman_filter",
    "E",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type,
                   list(xc ORDER BY d) AS xs_l,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 2
        ),
        r AS (
            SELECT event_type, xs_l, n, 1 AS i,
                   CAST(xs_l[1] AS DOUBLE) AS l,
                   CAST(10000.0 AS DOUBLE) AS p
            FROM h
            UNION ALL
            SELECT event_type, xs_l, n, i + 1,
                   l + {_KF_K} * (CAST(xs_l[i + 1] AS DOUBLE) - l) AS l,
                   (1.0 - {_KF_K}) * {_KF_PP} AS p
            FROM r WHERE i < n
        )
        SELECT event_type, n AS n_days,
               CAST(FLOOR((l) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS level_cents,
               CAST(FLOOR(({_KF_K}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS steady_gain,
               CAST(FLOOR((p) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS error_var
        FROM r WHERE i = n
    """,
    doc=(
        "1-D KALMAN FILTER, local-level model (Kalman 1960; the "
        "recursive MMSE estimator behind every sensor-fusion and "
        "metric-denoising pipeline): per event_type, fold the daily "
        "cents series through predict/update with process variance "
        "q = 100 cents² and observation variance r = 10000 cents² "
        "(declared constants — gain converges to the golden-ratio-"
        "like steady state of q/r = 0.01 regardless of init): "
        "p⁺ = p + q; k = p⁺/(p⁺ + r); l ← l + k(x − l); "
        "p ← (1 − k)p⁺. The statistically-weighted sibling of ts_ewma "
        "(a Kalman filter IS an EWMA whose α adapts to uncertainty). "
        "Determinism: the recurrence is ONE shared SQL text (_KF_K / "
        "_KF_PP inlined at every use site — the ts_croston/_HW_L fold "
        "discipline), inputs exact cents, outputs round-6. Plan: one "
        "daily aggregate + the per-entity O(n) sequential fold; "
        "parallelism = series count, no global state."
    ),
)
def ts_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    xs = F.col("xs")

    def step(acc, x):
        pp = acc["p"] + F.lit(100.0)
        k = pp / (pp + F.lit(10000.0))
        return F.struct(
            (acc["l"] + k * (x.cast("double") - acc["l"])).alias("l"),
            ((F.lit(1.0) - k) * pp).alias("p"),
        )

    folded = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.struct(
            F.element_at(xs, 1).cast("double").alias("l"),
            F.lit(10000.0).alias("p"),
        ),
        step,
    )
    pp_f = folded["p"] + F.lit(100.0)
    return h.select(
        "event_type",
        F.col("n").alias("n_days"),
        _pround6(folded["l"]).alias("level_cents"),
        _pround6(pp_f / (pp_f + F.lit(10000.0))).alias("steady_gain"),
        _pround6(folded["p"]).alias("error_var"),
    )


@register(
    "ts_dtw",
    "E",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type, list(xc ORDER BY d) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 2
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.xs AS xs, b.xs AS ys, a.n AS n, b.n AS m
            FROM h a JOIN h b ON a.event_type < b.event_type
        ),
        r AS (
            SELECT type_a, type_b, xs, ys, n, m, CAST(0 AS BIGINT) AS d,
                   [CASE WHEN i = 0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(4000000000000000 AS BIGINT) END
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p1,
                   [CAST(4000000000000000 AS BIGINT)
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p2
            FROM pairs
            UNION ALL
            SELECT type_a, type_b, xs, ys, n, m, d + 1,
                   [CASE WHEN i >= 1 AND i <= n
                              AND d + 1 - i >= 1 AND d + 1 - i <= m
                         THEN abs(xs[CAST(i AS INT)]
                                  - ys[CAST(d + 1 - i AS INT)])
                              + least(p1[CAST(i AS INT)],
                                      p1[CAST(i + 1 AS INT)],
                                      p2[CAST(i AS INT)])
                         ELSE CAST(4000000000000000 AS BIGINT) END
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p1,
                   p1 AS p2
            FROM r WHERE d < n + m
        )
        SELECT type_a, type_b, n AS len_a, m AS len_b,
               p1[CAST(n + 1 AS INT)] AS dtw_cents,
               ROUND(CAST(p1[CAST(n + 1 AS INT)] AS DOUBLE) / (n + m), 6)
                   AS dtw_per_step
        FROM r WHERE d = n + m
    """,
    doc=(
        "DYNAMIC TIME WARPING distance (Sakoe & Chiba, IEEE TASSP "
        "1978) between every pair of event_type daily-demand curves: "
        "the elastic alignment measure that ranks series similarity "
        "when phases shift (a promo that fires Tuesday in one region "
        "and Thursday in another — Euclidean distance punishes the "
        "shift, DTW absorbs it). The DP runs over ANTI-DIAGONAL "
        "wavefronts — diag d depends only on diags d−1 and d−2, so "
        "each step is one pure array comprehension (this is also the "
        "parallel-DTW formulation; a row-major DP has a sequential "
        "in-row dependency no comprehension can express). Determinism "
        "is structural: L1 local cost over EXACT CENTS keeps every DP "
        "cell an int64 (max path ≈ 2n·maxΔ ≪ the 4e15 pad sentinel, "
        "which itself stays overflow-safe under one more add) — there "
        "is NO float in the recursion at all, so the engines cannot "
        "diverge; the only double is the final per-step ratio. Plan: "
        "pair rows = type pairs (bounded), each folding its own "
        "O((n+m)·n) DP map-side — parallelism = pair count; at long "
        "horizons the Sakoe-Chiba band (w-limited comprehension "
        "range) bounds the per-pair cost, the declared scale path."
    ),
)
def ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    INF = 4_000_000_000_000_000
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    a = h.select(
        F.col("event_type").alias("type_a"), F.col("xs").alias("xs"),
        F.col("n").alias("n"),
    )
    b = h.select(
        F.col("event_type").alias("type_b"), F.col("xs").alias("ys"),
        F.col("n").alias("m"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    n, m = F.col("n"), F.col("m")
    inf = F.lit(INF).cast("long")
    p1_0 = F.transform(
        F.sequence(F.lit(0), n.cast("int")),
        lambda i: F.when(i == 0, F.lit(0).cast("long")).otherwise(inf),
    )
    p2_0 = F.transform(F.sequence(F.lit(0), n.cast("int")), lambda i: inf)

    def step(acc, d):
        def cell(i):
            j = d - i
            return (
                F.when(
                    (i >= 1) & (i.cast("long") <= n)
                    & (j >= 1) & (j.cast("long") <= m),
                    F.abs(
                        F.element_at(F.col("xs"), i)
                        - F.element_at(F.col("ys"), j)
                    )
                    + F.least(
                        F.element_at(acc["p1"], i),
                        F.element_at(acc["p1"], i + 1),
                        F.element_at(acc["p2"], i),
                    ),
                )
                .otherwise(inf)
            )

        return F.struct(
            F.transform(
                F.sequence(F.lit(0), n.cast("int")), cell
            ).alias("p1"),
            acc["p1"].alias("p2"),
        )

    folded = F.aggregate(
        F.sequence(F.lit(1), (n + m).cast("int")),
        F.struct(p1_0.alias("p1"), p2_0.alias("p2")),
        step,
    )
    dtw = F.element_at(folded["p1"], (n + 1).cast("int"))
    return pairs.select(
        "type_a",
        "type_b",
        n.alias("len_a"),
        m.alias("len_b"),
        dtw.alias("dtw_cents"),
        F.round(dtw.cast("double") / (n + m), 6).alias("dtw_per_step"),
    )


# Kleinberg burst recurrence — shared SQL text inlined at every use
# site (the _HW_L discipline). With burst rate 2·λ0 the per-gap cost
# DIFFERENCE between states collapses to λ0·g − ln2, so the only
# transcendental on the data path is the frozen ln2 literal; everything
# else is +, *, /, least — IEEE-deterministic cross-engine.
_BK_D = (
    "((CAST(n - 1 AS DOUBLE) * CAST(gs[i] AS DOUBLE))"
    " / CAST(tspan AS DOUBLE) - 0.6931471805599453)"
)
_BK_C0 = "least(c0, c1)"
_BK_C1 = f"(least(c0 + 1.0, c1) + {_BK_D})"


@register(
    "events_burst_kleinberg",
    "E",
    oracle=f"""
        WITH RECURSIVE ordered AS (
            SELECT event_type, epoch_us(ts) AS tu
            FROM events
        ),
        h0 AS (
            SELECT event_type,
                   list(tu ORDER BY tu) AS ts_l,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MAX(tu) - MIN(tu) AS BIGINT) AS tspan
            FROM ordered GROUP BY event_type
            HAVING COUNT(*) >= 3 AND MAX(tu) > MIN(tu)
        ),
        h AS (
            SELECT event_type, n, tspan,
                   list_transform(generate_series(2, CAST(n AS INT)),
                                  i -> ts_l[i] - ts_l[i - 1]) AS gs
            FROM h0
        ),
        r AS (
            SELECT event_type, n, tspan, gs, 1 AS i,
                   CAST(0.0 AS DOUBLE) AS c0,
                   CAST(1.0e18 AS DOUBLE) AS c1,
                   CAST(0 AS BIGINT) AS nb
            FROM h
            UNION ALL
            SELECT event_type, n, tspan, gs, i + 1,
                   {_BK_C0} AS c0,
                   {_BK_C1} AS c1,
                   nb + CASE WHEN {_BK_C1} < {_BK_C0}
                             THEN 1 ELSE 0 END AS nb
            FROM r WHERE i < n
        )
        SELECT event_type, n AS n_events, n - 1 AS n_gaps,
               nb AS n_burst_steps,
               ROUND(least(c0, c1), 6) AS viterbi_cost
        FROM r WHERE i = n
    """,
    doc=(
        "KLEINBERG BURST DETECTION (Kleinberg, KDD 2002), 2-state "
        "infinite-automaton Viterbi over each event_type's inter-"
        "arrival gaps: state 0 emits at the empirical base rate "
        "λ0 = (n−1)/span, state 1 at 2λ0, entering a burst costs γ=1 "
        "and exiting is free — the standard machinery behind 'is this "
        "stream bursting right now' alerting and trending-topic "
        "detection. Determinism is by REFORMULATION: Viterbi decisions "
        "depend only on cost DIFFERENCES, and with λ1 = 2λ0 the "
        "per-gap difference is exactly λ0·g − ln2 — so the exponential "
        "densities' ln λ terms cancel into one frozen ln2 literal "
        "(0.6931471805599453, the ts_periodogram frozen-literal rule) "
        "and the fold is pure +/*//least IEEE arithmetic, ONE shared "
        "SQL text at every use site (_BK_C0/_BK_C1, the _HW_L "
        "discipline). n_burst_steps counts gaps where the burst state "
        "is strictly cheaper after the update — the burst-occupancy "
        "statistic. Plan: one per-type sort-aggregate + the O(n) "
        "sequential fold; parallelism = type count, no global state."
    ),
)
def events_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("tu")
    )
    h0 = (
        e.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list("tu")).alias("ts_l"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.max("tu") - F.min("tu")).cast("bigint").alias("tspan"),
        )
        .filter((F.col("n") >= 3) & (F.col("tspan") > 0))
    )
    gs = F.transform(
        F.sequence(F.lit(2), F.col("n").cast("int")),
        lambda i: F.element_at(F.col("ts_l"), i)
        - F.element_at(F.col("ts_l"), i - 1),
    )
    h = h0.select("event_type", "n", "tspan", gs.alias("gs"))
    ln2 = F.lit(0.6931471805599453)

    def step(acc, g):
        d = (
            (F.col("n") - 1).cast("double") * g.cast("double")
        ) / F.col("tspan").cast("double") - ln2
        c0n = F.least(acc["c0"], acc["c1"])
        c1n = F.least(acc["c0"] + F.lit(1.0), acc["c1"]) + d
        return F.struct(
            c0n.alias("c0"),
            c1n.alias("c1"),
            (acc["nb"] + F.when(c1n < c0n, 1).otherwise(0)).alias("nb"),
        )

    folded = F.aggregate(
        F.col("gs"),
        F.struct(
            F.lit(0.0).alias("c0"),
            F.lit(1.0e18).alias("c1"),
            F.lit(0).cast("bigint").alias("nb"),
        ),
        step,
    )
    return h.select(
        "event_type",
        F.col("n").alias("n_events"),
        (F.col("n") - 1).alias("n_gaps"),
        folded["nb"].alias("n_burst_steps"),
        F.round(F.least(folded["c0"], folded["c1"]), 6).alias("viterbi_cost"),
    )


@register(
    "ts_ordinal_patterns",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type, list(xc ORDER BY d) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 3
        ),
        pats AS (
            SELECT event_type, n, UNNEST(list_transform(
                generate_series(1, CAST(n - 2 AS INT)),
                i -> 4 * CASE WHEN xs[i] < xs[i + 1]
                              OR (xs[i] = xs[i + 1]) THEN 1 ELSE 0 END
                   + 2 * CASE WHEN xs[i] < xs[i + 2]
                              OR (xs[i] = xs[i + 2]) THEN 1 ELSE 0 END
                   + CASE WHEN xs[i + 1] < xs[i + 2]
                          OR (xs[i + 1] = xs[i + 2]) THEN 1 ELSE 0 END
            )) AS pattern_id
            FROM h
        )
        SELECT event_type, CAST(pattern_id AS INT) AS pattern_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               ROUND(CAST(COUNT(*) AS DOUBLE) / (MAX(n) - 2), 6) AS share
        FROM pats GROUP BY 1, 2
    """,
    doc=(
        "ORDINAL PATTERN histogram (Bandt & Pompe, Phys. Rev. Lett. "
        "2002 — the combinatorial footing of permutation entropy): "
        "each 3-day window of the daily cents series maps to its "
        "order pattern, encoded by the three pairwise comparisons "
        "4·[k1≤k2] + 2·[k1≤k3] + [k2≤k3] with ties broken toward the "
        "EARLIER index (the published convention; with it the three "
        "bits are never contradictory, so exactly 6 of 8 ids occur). "
        "A white-noise series spreads mass evenly; trends pile onto "
        "7 (up-up) and 0 (down-down) — the nonparametric regime "
        "detector that needs no distributional assumptions. The "
        "histogram is emitted rather than the entropy scalar because "
        "ln is not IEEE-correctly-rounded (the repo's libm rule) — "
        "Σ p·ln p over these exact shares is one post-hoc expression "
        "away for a consumer who accepts ulp noise. All-integer "
        "comparisons over exact cents; the one double is the round-6 "
        "share. Plan: per-type fold + explode + hash agg, linear."
    ),
)
def ts_ordinal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 3)
    )
    xs = F.col("xs")

    def pid(i):
        a = F.element_at(xs, i)
        b = F.element_at(xs, i + 1)
        c = F.element_at(xs, i + 2)
        return (
            4 * F.when(a <= b, 1).otherwise(0)
            + 2 * F.when(a <= c, 1).otherwise(0)
            + F.when(b <= c, 1).otherwise(0)
        )

    pats = h.select(
        "event_type",
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.col("n") - 2).cast("int")), pid
            )
        ).alias("pattern_id"),
    )
    return pats.groupBy("event_type", F.col("pattern_id").cast("int").alias("pattern_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.round(
            F.count(F.lit(1)).cast("double") / (F.max("n") - 2), 6
        ).alias("share"),
    )


@register(
    "events_forecast_backtest",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS xc
            FROM events GROUP BY 1, 2
        ),
        lagged AS (
            SELECT event_type, d, xc,
                   LAG(xc, 1) OVER w AS f_naive,
                   LAG(xc, 7) OVER w AS f_snaive,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d DESC) AS rev
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_folds,
               CAST(SUM(abs(xc - f_naive)) AS BIGINT) AS ae_naive_cents,
               CAST(SUM(abs(xc - f_snaive)) AS BIGINT) AS ae_snaive_cents,
               ROUND(CAST(SUM(abs(xc - f_naive)) AS DOUBLE) / COUNT(*), 6)
                   AS mae_naive,
               ROUND(CAST(SUM(abs(xc - f_snaive)) AS DOUBLE) / COUNT(*), 6)
                   AS mae_snaive,
               CAST(CASE WHEN SUM(abs(xc - f_snaive))
                              < SUM(abs(xc - f_naive))
                         THEN 1 ELSE 0 END AS INT) AS seasonal_wins
        FROM lagged
        WHERE rev <= 14 AND f_naive IS NOT NULL AND f_snaive IS NOT NULL
        GROUP BY event_type
    """,
    doc=(
        "ROLLING-ORIGIN FORECAST BACKTEST (the Hyndman & Athanasopoulos "
        "evaluation protocol): over each event_type's last 14 days, "
        "score the naive (yesterday) and seasonal-naive (same weekday "
        "last week) forecasters by MAE and declare the winner — the "
        "eval harness every forecasting deployment runs BEFORE "
        "trusting ts_ewma/holt/holt_winters output, here as one query. "
        "Folds where either forecast's lag is unavailable are excluded "
        "in both engines identically (NULL lag). Determinism: absolute "
        "errors are exact cents BIGINTs summed order-free; the winner "
        "flag compares two exact integers; the only doubles are the "
        "two final round-6 MAEs. Plan: one daily aggregate + one "
        "partitioned window (lags + reverse rank in a single pass), "
        "then a hash agg — parallelism = series count."
    ),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.sum("_vc").cast("bigint").alias("xc")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    wrev = Window.partitionBy("event_type").orderBy(F.col("d").desc())
    lagged = daily.select(
        "event_type",
        "xc",
        F.lag("xc", 1).over(w).alias("f_naive"),
        F.lag("xc", 7).over(w).alias("f_snaive"),
        F.row_number().over(wrev).alias("rev"),
    ).filter(
        (F.col("rev") <= 14)
        & F.col("f_naive").isNotNull()
        & F.col("f_snaive").isNotNull()
    )
    ae_n = F.sum(F.abs(F.col("xc") - F.col("f_naive")))
    ae_s = F.sum(F.abs(F.col("xc") - F.col("f_snaive")))
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_folds"),
        ae_n.cast("bigint").alias("ae_naive_cents"),
        ae_s.cast("bigint").alias("ae_snaive_cents"),
        F.round(ae_n.cast("double") / F.count(F.lit(1)), 6).alias("mae_naive"),
        F.round(ae_s.cast("double") / F.count(F.lit(1)), 6).alias("mae_snaive"),
        F.when(ae_s < ae_n, 1).otherwise(0).cast("int").alias("seasonal_wins"),
    )


# Factorials 0!..6! as a shared literal table (channel count is bounded
# by the event-type dimension; the subset lattice is 2^c ≤ 64 rows).
_FACT_SQL = "[1, 1, 2, 6, 24, 120, 720]"
# popcount over 6 literal bit terms — identical text in both engines'
# dialects modulo operator spelling, all exact integers.
_POP_SQL = (
    "((vs.s >> 0) & 1) + ((vs.s >> 1) & 1) + ((vs.s >> 2) & 1)"
    " + ((vs.s >> 3) & 1) + ((vs.s >> 4) & 1) + ((vs.s >> 5) & 1)"
)


@register(
    "events_shapley_attribution",
    "E",
    oracle=f"""
        WITH chan AS (
            SELECT DISTINCT event_type AS t FROM events
            WHERE event_type <> 'purchase'
        ),
        bits AS (
            SELECT a.t, CAST(COUNT(b.t) AS INT) AS bit
            FROM chan a LEFT JOIN chan b ON b.t < a.t
            GROUP BY a.t
        ),
        c AS (SELECT CAST(COUNT(*) AS INT) AS c FROM chan),
        conv AS (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase'
        ),
        umask AS (
            SELECT cv.user_id,
                   CAST(COALESCE(SUM(DISTINCT (1 << b.bit)), 0) AS INT)
                       AS m
            FROM conv cv
            LEFT JOIN events e ON e.user_id = cv.user_id
                              AND e.event_type <> 'purchase'
            LEFT JOIN bits b ON b.t = e.event_type
            GROUP BY cv.user_id
        ),
        mcnt AS (
            SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM umask GROUP BY m
        ),
        subsets AS (
            SELECT UNNEST(generate_series(0, (1 << c.c) - 1)) AS s
            FROM c
        ),
        v AS (
            SELECT s.s, CAST(COALESCE(SUM(mc.cnt), 0) AS BIGINT) AS v
            FROM subsets s
            LEFT JOIN mcnt mc ON (mc.m & s.s) = mc.m
            GROUP BY s.s
        ),
        contrib AS (
            SELECT b.t AS channel,
                   SUM(({_FACT_SQL})[{_POP_SQL} + 1]
                       * ({_FACT_SQL})[c.c - ({_POP_SQL}) - 1 + 1]
                       * (vi.v - vs.v)) AS numer
            FROM bits b
            CROSS JOIN c
            JOIN v vs ON (vs.s & (1 << b.bit)) = 0
            JOIN v vi ON vi.s = (vs.s | (1 << b.bit))
            GROUP BY b.t
        )
        SELECT ct.channel, CAST(ct.numer AS BIGINT) AS phi_x_cfact,
               ROUND(CAST(ct.numer AS DOUBLE) / ({_FACT_SQL})[c.c + 1], 6)
                   AS shapley
        FROM contrib ct CROSS JOIN c
    """,
    doc=(
        "EXACT SHAPLEY-VALUE marketing attribution (Shapley 1953; the "
        "coalition-game credit split behind data-driven attribution in "
        "every major ads platform): channels are the non-purchase "
        "event types, a converting user's coalition value v(S) counts "
        "conversions whose touched-channel set fits inside S, and each "
        "channel's credit is φ_i = Σ_S |S|!(c−|S|−1)!/c!·(v(S∪i)−v(S)) "
        "— the unique split satisfying efficiency/symmetry/dummy, "
        "which the heuristic rules (first/last/linear touch, "
        "events_attribution) all violate. Exactness trick: multiply "
        "through by c! so every weight is an integer from a frozen "
        "factorial table — φ·c! is an exact BIGINT and the single "
        "double is the final round-6 division. The subset lattice is "
        "tiny by construction (2^c ≤ 64 for the bounded channel "
        "dimension): v(S) is one subset-containment join over the "
        "per-mask conversion counts ((m & S) = m — the zeta "
        "transform, relationally), channel bit-assignment is a "
        "triangular self-join rank (6 rows — no global window), and "
        "the only row-scale work is the per-user mask aggregate, one "
        "shuffle over events. At 100 TB: identical — lattice size "
        "depends on channels, not rows."
    ),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    chan = (
        e.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("t"))
        .distinct()
    )
    bits = (
        chan.alias("a")
        .join(chan.alias("b"), F.col("b.t") < F.col("a.t"), "left")
        .groupBy(F.col("a.t").alias("t"))
        .agg(F.count(F.col("b.t")).cast("int").alias("bit"))
        .transform(checkpoint)  # reused by umask + contrib
    )
    c_row = chan.agg(F.count(F.lit(1)).cast("int").alias("c"))
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    umask = (
        conv.join(
            e.filter(F.col("event_type") != "purchase"), "user_id", "left"
        )
        .join(F.broadcast(bits), F.col("event_type") == F.col("t"), "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum_distinct(F.expr("shiftleft(1, bit)")), F.lit(0)
            )
            .cast("int")
            .alias("m")
        )
    )
    mcnt = umask.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    subsets = c_row.select(
        F.explode(
            F.sequence(F.lit(0), F.expr("shiftleft(1, c)") - 1)
        ).alias("s")
    )
    v = (
        subsets.join(
            F.broadcast(mcnt),
            (F.col("m").bitwiseAND(F.col("s"))) == F.col("m"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("v"))
        .transform(checkpoint)  # joined twice below
    )
    fact = F.array(*[F.lit(x) for x in [1, 1, 2, 6, 24, 120, 720]])
    pop = sum(
        [F.shiftright(F.col("s"), k).bitwiseAND(F.lit(1)) for k in range(1, 6)],
        F.shiftright(F.col("s"), 0).bitwiseAND(F.lit(1)),
    )
    vs = v.select(F.col("s"), F.col("v").alias("v_s"))
    vi = v.select(F.col("s").alias("si"), F.col("v").alias("v_i"))
    contrib = (
        F.broadcast(bits)
        .crossJoin(F.broadcast(c_row))
        .join(vs, (F.col("s").bitwiseAND(F.expr("shiftleft(1, bit)"))) == 0)
        .join(
            vi,
            F.col("si")
            == (F.col("s").bitwiseOR(F.expr("shiftleft(1, bit)"))),
        )
        .groupBy("t")
        .agg(
            F.sum(
                F.element_at(fact, pop + 1)
                * F.element_at(fact, F.col("c") - pop - 1 + 1)
                * (F.col("v_i") - F.col("v_s"))
            )
            .cast("bigint")
            .alias("numer"),
            F.max("c").alias("c"),
        )
    )
    return contrib.select(
        F.col("t").alias("channel"),
        F.col("numer").alias("phi_x_cfact"),
        F.round(
            F.col("numer").cast("double")
            / F.element_at(fact, F.col("c") + 1),
            6,
        ).alias("shapley"),
    )


@register(
    "ts_matrix_profile",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type, list(xc ORDER BY d) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 21
        ),
        win AS (
            SELECT event_type, n,
                   UNNEST(generate_series(1, CAST(n - 6 AS INT))) AS i,
                   xs
            FROM h
        ),
        dist AS (
            SELECT a.event_type, a.i, b.i AS j,
                   CAST(list_sum(list_transform(
                       generate_series(0, 6),
                       k -> abs(a.xs[a.i + k] - b.xs[b.i + k])
                   )) AS BIGINT) AS d
            FROM win a JOIN win b
              ON b.event_type = a.event_type
             AND abs(b.i - a.i) >= 7
        ),
        profile AS (
            SELECT event_type, i, j AS nn_pos, d
            FROM dist
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY event_type, i ORDER BY d ASC, j ASC) = 1
        )
        SELECT event_type,
               CAST(i AS BIGINT) AS discord_pos,
               CAST(nn_pos AS BIGINT) AS discord_nn,
               d AS discord_dist_cents,
               CAST((SELECT COUNT(*) FROM profile p2
                     WHERE p2.event_type = profile.event_type) AS BIGINT)
                   AS n_windows
        FROM profile
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY d DESC, i ASC) = 1
    """,
    doc=(
        "MATRIX PROFILE discord detection (Yeh, Keogh et al., ICDM "
        "2016): each 7-day window's profile value is its L1 distance "
        "to the NEAREST other window outside a one-window exclusion "
        "zone, and the DISCORD — the window whose closest match is "
        "farthest — is the series' most anomalous week, the "
        "shape-based anomaly primitive that z-score detectors "
        "(ts_anomaly_zscore) miss when level is normal but the "
        "within-week SHAPE is wrong. All-integer: L1 over exact cents "
        "keeps every distance a BIGINT (the ts_dtw discipline — no "
        "float anywhere, engines cannot diverge); nearest-neighbor "
        "and discord picks use (d ASC, j ASC)/(d DESC, i ASC) total "
        "orders. Plan: windows stay ZERO-COPY (each row carries the "
        "checkpoint-free series array + an index; distances slice "
        "lazily), the pair join is per-type (Σ w² with w = n−6 "
        "windows — the exact profile is quadratic per series BY "
        "DEFINITION; at long horizons the scale path is STOMP's O(n²)"
        "-total-ops streaming recurrence or window sampling, and "
        "parallelism = series count either way), then two per-type "
        "window top-1s."
    ),
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 21)
        .transform(checkpoint)  # both sides of the pair join
    )
    win = h.select(
        "event_type",
        "xs",
        F.explode(
            F.sequence(F.lit(1), (F.col("n") - 6).cast("int"))
        ).alias("i"),
    )
    a = win.select(
        "event_type", F.col("xs").alias("xa"), F.col("i").alias("i")
    )
    b = win.select(
        F.col("event_type").alias("et_b"), F.col("xs").alias("xb"),
        F.col("i").alias("j"),
    )
    l1 = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(6)),
            lambda k: F.abs(
                F.element_at(F.col("xa"), F.col("i") + k)
                - F.element_at(F.col("xb"), F.col("j") + k)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dist = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.abs(F.col("j") - F.col("i")) >= 7),
        )
        .select("event_type", "i", "j", l1.alias("d"))
    )
    w_nn = Window.partitionBy("event_type", "i").orderBy(
        F.col("d").asc(), F.col("j").asc()
    )
    profile = (
        dist.withColumn("_rk", F.row_number().over(w_nn))
        .filter(F.col("_rk") == 1)
        .select("event_type", "i", F.col("j").alias("nn_pos"), "d")
    )
    w_disc = Window.partitionBy("event_type").orderBy(
        F.col("d").desc(), F.col("i").asc()
    )
    counts = profile.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows")
    )
    return (
        profile.withColumn("_rk", F.row_number().over(w_disc))
        .filter(F.col("_rk") == 1)
        .join(F.broadcast(counts), "event_type")
        .select(
            "event_type",
            F.col("i").cast("bigint").alias("discord_pos"),
            F.col("nn_pos").cast("bigint").alias("discord_nn"),
            F.col("d").alias("discord_dist_cents"),
            "n_windows",
        )
    )


@register(
    "ts_mann_kendall",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.xc > a.xc THEN 1
                        WHEN b.xc < a.xc THEN -1 ELSE 0 END AS sg
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.d > a.d
        ),
        s AS (
            SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s_stat
            FROM pairs GROUP BY event_type
        ),
        ties AS (
            SELECT event_type,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS corr
            FROM (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
                FROM daily GROUP BY event_type, xc
            ) GROUP BY event_type
        ),
        nn AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 8
        )
        SELECT nn.event_type, nn.n AS n_days, s.s_stat,
               CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.corr
                    AS BIGINT) AS var_x18,
               ROUND(CASE
                   WHEN s.s_stat > 0 THEN
                       (CAST(s.s_stat AS DOUBLE) - 1.0)
                       / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                   - ties.corr AS DOUBLE) / 18.0)
                   WHEN s.s_stat < 0 THEN
                       (CAST(s.s_stat AS DOUBLE) + 1.0)
                       / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                   - ties.corr AS DOUBLE) / 18.0)
                   ELSE 0.0 END, 6) AS z_score,
               CAST(CASE
                   WHEN s.s_stat > 0 AND
                        (CAST(s.s_stat AS DOUBLE) - 1.0)
                        / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                    - ties.corr AS DOUBLE) / 18.0) > 1.96
                       THEN 1
                   WHEN s.s_stat < 0 AND
                        (CAST(s.s_stat AS DOUBLE) + 1.0)
                        / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                    - ties.corr AS DOUBLE) / 18.0) < -1.96
                       THEN -1
                   ELSE 0 END AS INT) AS trend
        FROM nn
        JOIN s ON s.event_type = nn.event_type
        JOIN ties ON ties.event_type = nn.event_type
    """,
    doc=(
        "MANN-KENDALL TREND TEST (Mann 1945, Kendall 1975; the "
        "nonparametric monotone-trend detector metric-monitoring and "
        "environmental statistics default to because it assumes no "
        "distribution and shrugs at outliers): S = Σ_{i<j} "
        "sign(x_j − x_i) over each event_type's daily cents series, "
        "tie-corrected variance 18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5), "
        "continuity-corrected z, and a ±1.96 two-sided trend verdict — "
        "the hypothesis-test companion to ts_theil_sen's slope "
        "estimate. Determinism: S, the tie correction, and 18·Var are "
        "EXACT BIGINTs (pairwise signs over integer cents); the only "
        "float work is one fixed-order z expression whose sqrt is "
        "IEEE-correctly-rounded, and the ±1.96 verdict compares "
        "bit-identical doubles in both engines. Plan: the sign-pair "
        "join is per-type (Σ n² with n = days per series — bounded by "
        "horizon, not rows; the O(n log n) merge-sort inversion count "
        "is the declared long-horizon path), everything else is hash "
        "aggregates; parallelism = series count."
    ),
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = (
        e.groupBy("event_type", "d")
        .agg(F.sum("_vc").alias("xc"))
        .transform(checkpoint)  # pair join both sides + ties + n
    )
    a = daily.select("event_type", F.col("d").alias("da"), F.col("xc").alias("xa"))
    b = daily.select(
        F.col("event_type").alias("et_b"), F.col("d").alias("db"),
        F.col("xc").alias("xb"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("db") > F.col("da"))
    ).select(
        "event_type",
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sg"),
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sg").cast("bigint").alias("s_stat")
    )
    ties = (
        daily.groupBy("event_type", "xc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("corr")
        )
    )
    nn = (
        daily.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= 8)
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("corr")
    )
    sd = F.sqrt(var18.cast("double") / F.lit(18.0))
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0)) / sd,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0)) / sd,
        )
        .otherwise(F.lit(0.0))
    )
    return (
        nn.join(s, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            var18.cast("bigint").alias("var_x18"),
            F.round(z, 6).alias("z_score"),
            F.when((F.col("s_stat") > 0) & (z > 1.96), 1)
            .when((F.col("s_stat") < 0) & (z < -1.96), -1)
            .otherwise(0)
            .cast("int")
            .alias("trend"),
        )
    )


@register(
    "events_nelson_aalen",
    "E",
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
                             THEN CAST(ROUND(CAST(d AS DOUBLE) / r, 9)
                                       AS DECIMAL(28,9))
                             ELSE CAST(0 AS DECIMAL(28,9)) END
                        ORDER BY t) AS hs,
                   list(t ORDER BY t) AS ts_,
                   list(d ORDER BY t) AS ds,
                   list(r ORDER BY t) AS rs
            FROM risk
        )
        SELECT CAST(ts_[i] AS BIGINT) AS t_hours,
               CAST(ds[i] AS BIGINT) AS d_events,
               CAST(rs[i] AS BIGINT) AS n_at_risk,
               ROUND(CAST(list_sum(hs[1:i]) AS DOUBLE), 6) AS cum_hazard
        FROM arr, LATERAL (
            SELECT UNNEST(generate_series(1, len(hs))) AS i
        ) gs
        WHERE ds[i] > 0
    """,
    doc=(
        "NELSON-AALEN cumulative hazard (Nelson 1972, Aalen 1978): "
        "Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the same hour-grid risk sets as "
        "agg_survival_km — the estimator survival analysis reaches for "
        "when the HAZARD (instantaneous conversion intensity) is the "
        "quantity of interest rather than S(t), and the better-behaved "
        "one under small risk sets (a sum, not a product that sticks "
        "at zero). KM and NA on the same grid also cross-check each "
        "other: S ≈ exp(−Ĥ). Determinism: each dᵢ/nᵢ term quantizes "
        "ROUND(...,9)→DECIMAL(28,9) BEFORE the prefix sum, so the "
        "cumulative hazard is an exact decimal sum (order-invariant — "
        "the float-sum-ordering rule §2.0) cast to double only at the "
        "final round-6. Plan: identical to KM — per-user aggregate, "
        "bounded hour grid in ONE array row (no unpartitioned window "
        "on the data path), risk sets and prefix sums as array folds."
    ),
)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "hs",
        F.zip_with(
            F.col("g"),
            F.col("rs"),
            lambda s, r: F.when(
                s["d"] > 0,
                F.round(s["d"].cast("double") / r, 9).cast("decimal(28,9)"),
            ).otherwise(F.lit(0).cast("decimal(28,9)")),
        ),
    )
    one = one.withColumn(
        "cums",
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.round(
                F.aggregate(
                    F.slice(F.col("hs"), 1, i),
                    F.lit(0).cast("decimal(28,9)"),
                    lambda a, x: (a + x).cast("decimal(28,9)"),
                ).cast("double"),
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
                    F.col("cums"),
                    lambda r, h: F.struct(r.alias("r"), h.alias("h")),
                ),
                lambda g_, rh: F.struct(
                    g_["t"].alias("t"),
                    g_["d"].alias("d"),
                    rh["r"].alias("r"),
                    rh["h"].alias("h"),
                ),
            )
        ).alias("pos", "row")
    )
    return exploded.filter(F.col("row.d") > 0).select(
        F.col("row.t").cast("bigint").alias("t_hours"),
        F.col("row.d").cast("bigint").alias("d_events"),
        F.col("row.r").cast("bigint").alias("n_at_risk"),
        F.col("row.h").alias("cum_hazard"),
    )


@register(
    "events_cohort_ltv",
    "E",
    oracle="""
        WITH days AS (
            SELECT user_id, event_type,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS dy,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
            FROM events
        ),
        first_day AS (
            SELECT user_id, MIN(dy) AS d0 FROM days GROUP BY user_id
        ),
        cohorts AS (
            SELECT CAST(d0 // 7 AS BIGINT) AS cohort_week,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM first_day GROUP BY 1
        ),
        rev AS (
            SELECT CAST(f.d0 // 7 AS BIGINT) AS cohort_week,
                   CAST((d.dy - f.d0) // 7 AS BIGINT) AS age_weeks,
                   CAST(SUM(d.vc) AS BIGINT) AS rev_cents
            FROM days d JOIN first_day f ON f.user_id = d.user_id
            WHERE d.event_type = 'purchase'
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort_week, age_weeks, rev_cents,
                   CAST(SUM(rev_cents) OVER (
                       PARTITION BY cohort_week ORDER BY age_weeks
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_cents
            FROM rev
        )
        SELECT c.cohort_week, c.age_weeks, co.n_users,
               c.rev_cents, c.cum_cents,
               ROUND(CAST(c.cum_cents AS DOUBLE) / co.n_users / 100.0, 6)
                   AS cum_ltv
        FROM cum c JOIN cohorts co ON co.cohort_week = c.cohort_week
    """,
    doc=(
        "COHORT LTV CURVE (the cumulative-ARPU-by-age matrix every "
        "growth team projects payback from): users cohort by FIRST-"
        "touch week, purchase revenue accumulates per (cohort, weeks-"
        "since-first-touch), and cumulative LTV divides by the "
        "cohort's full user count (not just week-active users — the "
        "standard definition, so curves are monotone). Weeks are "
        "epoch-day integer arithmetic (dy div 7 — no calendar-week "
        "function, so neither engine's week-start convention is on "
        "the plan; the feat_cyclic_encode rule). Complements "
        "events_cohort_retention (activity rates) with the REVENUE "
        "curve. Determinism: revenue exact cents BIGINTs, the "
        "cumulative window an exact integer sum (order-free), one "
        "final round-6 division. Plan: two hash aggregates + one "
        "cohort-partitioned window — parallelism = cohort count."
    ),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        # Integer `div`, not floor(double /): a double quotient within
        # half an ulp of an integer (an event ~3 ms before midnight)
        # rounds UP before floor and disagrees with the oracle's exact
        # epoch_us // 86400000000.
        F.expr("unix_micros(ts) div 86400000000")
        .cast("bigint")
        .alias("dy"),
        cents("value").alias("vc"),
    )
    first_day = e.groupBy("user_id").agg(F.min("dy").alias("d0"))
    cohorts = first_day.groupBy(
        F.floor(F.col("d0") / 7).cast("bigint").alias("cohort_week")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_day, "user_id")
        .groupBy(
            F.floor(F.col("d0") / 7).cast("bigint").alias("cohort_week"),
            F.floor((F.col("dy") - F.col("d0")) / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.sum("vc").cast("bigint").alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn(
        "cum_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return cum.join(F.broadcast(cohorts), "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "n_users",
        "rev_cents",
        "cum_cents",
        F.round(
            F.col("cum_cents").cast("double") / F.col("n_users") / F.lit(100.0),
            6,
        ).alias("cum_ltv"),
    )


@register(
    "events_did_estimator",
    "E",
    oracle="""
        WITH span AS (
            SELECT CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS d0,
                   CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS d1
            FROM events
        ),
        cells AS (
            SELECT CAST(('0x' || substr(md5('did:' ||
                       CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
                   AS INT) AS treated,
                   CAST(CASE WHEN epoch_us(ts) // 86400000000
                                  >= (s.d0 + s.d1 + 1) // 2
                             THEN 1 ELSE 0 END AS INT) AS post,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
            FROM events CROSS JOIN span s
            WHERE event_type = 'purchase'
        ),
        m AS (
            SELECT treated, post,
                   CAST(SUM(vc) AS BIGINT) AS sc,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM cells GROUP BY treated, post
        )
        SELECT
            ROUND(CAST(m00.sc AS DOUBLE) / m00.n, 6) AS mean_ctrl_pre,
            ROUND(CAST(m01.sc AS DOUBLE) / m01.n, 6) AS mean_ctrl_post,
            ROUND(CAST(m10.sc AS DOUBLE) / m10.n, 6) AS mean_treat_pre,
            ROUND(CAST(m11.sc AS DOUBLE) / m11.n, 6) AS mean_treat_post,
            ROUND((CAST(m11.sc AS DOUBLE) / m11.n
                   - CAST(m10.sc AS DOUBLE) / m10.n)
                  - (CAST(m01.sc AS DOUBLE) / m01.n
                     - CAST(m00.sc AS DOUBLE) / m00.n), 6) AS did_cents
        FROM (SELECT sc, n FROM m WHERE treated = 0 AND post = 0) m00,
             (SELECT sc, n FROM m WHERE treated = 0 AND post = 1) m01,
             (SELECT sc, n FROM m WHERE treated = 1 AND post = 0) m10,
             (SELECT sc, n FROM m WHERE treated = 1 AND post = 1) m11
    """,
    doc=(
        "DIFFERENCE-IN-DIFFERENCES estimator (the workhorse quasi-"
        "experimental design — Card & Krueger 1994 made it canon): "
        "treatment assignment is the portable-md5 parity of the user "
        "id (a deterministic stand-in for the rollout flag a real "
        "pipeline would carry), the post period starts at the "
        "integer midpoint of the observed day span, and the estimand "
        "is (T,post − T,pre) − (C,post − C,pre) over purchase cents — "
        "the parallel-trends-adjusted lift that a naive post-vs-pre "
        "comparison overstates. Determinism: four cells of exact "
        "cents sums and counts; the five outputs are fixed-order "
        "round-6 expressions over those integers; day math is "
        "epoch-integer (no calendar functions). Plan: one scan, one "
        "4-group aggregate, a 4-row pivot-join — the cheapest "
        "possible causal readout, linear and partial-aggregable."
    ),
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.portable_hash import (
        ph0_hex,
    )

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # Integer `div` — see events_cohort_ltv's midnight-boundary note.
    dy = F.expr("unix_micros(ts) div 86400000000").cast("bigint")
    span = e.agg(
        F.min(dy).alias("d0"), F.max(dy).alias("d1")
    )
    hx = F.md5(F.concat(F.lit("did:"), F.col("user_id").cast("string")))
    cells = (
        e.crossJoin(F.broadcast(span))
        .select(
            (ph0_hex(hx) % 2).cast("int").alias("treated"),
            F.when(
                dy >= F.floor((F.col("d0") + F.col("d1") + 1) / 2), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("post"),
            cents("value").alias("vc"),
        )
    )
    m = cells.groupBy("treated", "post").agg(
        F.sum("vc").cast("bigint").alias("sc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def cell(t, p, name):
        return (
            m.filter((F.col("treated") == t) & (F.col("post") == p))
            .select(
                F.col("sc").alias(f"sc{name}"), F.col("n").alias(f"n{name}")
            )
        )

    j = (
        cell(0, 0, "00")
        .crossJoin(F.broadcast(cell(0, 1, "01")))
        .crossJoin(F.broadcast(cell(1, 0, "10")))
        .crossJoin(F.broadcast(cell(1, 1, "11")))
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)
    return j.select(
        F.round(mean("sc00", "n00"), 6).alias("mean_ctrl_pre"),
        F.round(mean("sc01", "n01"), 6).alias("mean_ctrl_post"),
        F.round(mean("sc10", "n10"), 6).alias("mean_treat_pre"),
        F.round(mean("sc11", "n11"), 6).alias("mean_treat_post"),
        F.round(
            (mean("sc11", "n11") - mean("sc10", "n10"))
            - (mean("sc01", "n01") - mean("sc00", "n00")),
            6,
        ).alias("did_cents"),
    )


def _dl_levels(maxlag: int = 5):
    """Durbin-Levinson expression text, level by level.

    Returns [(col_name, sql_expr)] in bind order. The SAME strings are
    bound as columns by both engines (Spark selectExpr / DuckDB CTE
    chain), so every intermediate is one identically-parsed arithmetic
    expression over r1..rK doubles — binding at each level keeps the
    text linear where full inlining would grow exponentially, and
    bound-column reuse is IEEE-safe because both engines evaluate the
    identical tree once."""
    out = []
    prev = {}  # j -> column name of phi_{k-1, j}
    for k in range(1, maxlag + 1):
        if k == 1:
            kk = "p_1_1"
            out.append((kk, "r1"))
        else:
            num = " + ".join(f"{prev[j]} * r{k - j}" for j in range(1, k))
            den = " + ".join(f"{prev[j]} * r{j}" for j in range(1, k))
            kk = f"p_{k}_{k}"
            out.append((kk, f"(r{k} - ({num})) / (1.0 - ({den}))"))
        cur = {k: kk}
        for j in range(1, k):
            name = f"p_{k}_{j}"
            out.append((name, f"{prev[j]} - {kk} * {prev[k - j]}"))
            cur[j] = name
        prev = cur
    return out


@register(
    "ts_pacf",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type, list(xc ORDER BY d) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xc) AS BIGINT) AS m
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 20
        ),
        moments AS (
            SELECT event_type, n, list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 0] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 0 AS INT))]) AS s0,
                   list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 1] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 1 AS INT))]) AS s1,
                   list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 2] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 2 AS INT))]) AS s2,
                   list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 3] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 3 AS INT))]) AS s3,
                   list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 4] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 4 AS INT))]) AS s4,
                   list_sum([CAST(CAST(n * xs[t] - m AS DECIMAL(19,0)) * CAST(n * xs[t + 5] - m AS DECIMAL(19,0)) AS DECIMAL(38,0)) FOR t IN generate_series(1, CAST(n - 5 AS INT))]) AS s5
            FROM h
        ),
        rho AS (
            SELECT event_type, n, CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r1,
                   CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r2,
                   CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r3,
                   CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r4,
                   CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE) AS r5
            FROM moments
        ),
        lvl1 AS (
            SELECT *, r1 AS p_1_1
            FROM rho
        ),
        lvl2 AS (
            SELECT *, (r2 - (p_1_1 * r1)) / (1.0 - (p_1_1 * r1)) AS p_2_2,
                   p_1_1 - p_2_2 * p_1_1 AS p_2_1
            FROM lvl1
        ),
        lvl3 AS (
            SELECT *, (r3 - (p_2_1 * r2 + p_2_2 * r1)) / (1.0 - (p_2_1 * r1 + p_2_2 * r2)) AS p_3_3,
                   p_2_1 - p_3_3 * p_2_2 AS p_3_1,
                   p_2_2 - p_3_3 * p_2_1 AS p_3_2
            FROM lvl2
        ),
        lvl4 AS (
            SELECT *, (r4 - (p_3_1 * r3 + p_3_2 * r2 + p_3_3 * r1)) / (1.0 - (p_3_1 * r1 + p_3_2 * r2 + p_3_3 * r3)) AS p_4_4,
                   p_3_1 - p_4_4 * p_3_3 AS p_4_1,
                   p_3_2 - p_4_4 * p_3_2 AS p_4_2,
                   p_3_3 - p_4_4 * p_3_1 AS p_4_3
            FROM lvl3
        ),
        lvl5 AS (
            SELECT *, (r5 - (p_4_1 * r4 + p_4_2 * r3 + p_4_3 * r2 + p_4_4 * r1)) / (1.0 - (p_4_1 * r1 + p_4_2 * r2 + p_4_3 * r3 + p_4_4 * r4)) AS p_5_5,
                   p_4_1 - p_5_5 * p_4_4 AS p_5_1,
                   p_4_2 - p_5_5 * p_4_3 AS p_5_2,
                   p_4_3 - p_5_5 * p_4_2 AS p_5_3,
                   p_4_4 - p_5_5 * p_4_1 AS p_5_4
            FROM lvl4
        )
        SELECT event_type, n AS n_days, ROUND(p_1_1, 6) AS pacf_1, ROUND(p_2_2, 6) AS pacf_2, ROUND(p_3_3, 6) AS pacf_3, ROUND(p_4_4, 6) AS pacf_4, ROUND(p_5_5, 6) AS pacf_5
        FROM lvl5
    """,
    doc=(
        "PARTIAL AUTOCORRELATION (Durbin-Levinson recursion; with "
        "ts_acf this completes the Box-Jenkins ARIMA identification "
        "pair — PACF cutoff picks the AR order the way ACF cutoff "
        "picks MA). Autocovariance numerators are EXACT: n-scaling "
        "clears the mean ((n·x_t − Σx) products, pre-cast to "
        "DECIMAL(38,0) per the events_bot_score overflow rule), so "
        "each ρ_k is one decimal→double conversion and one division. "
        "The recursion binds every Durbin-Levinson intermediate as a "
        "column from ONE shared expression text (_dl_levels — Spark "
        "selectExpr and the DuckDB CTE chain parse the same strings), "
        "the straight-line complement of the recursive-CTE shared-text "
        "rule: binding is IEEE-safe here because both engines evaluate "
        "each identical tree exactly once, and it keeps level-5 text "
        "linear where full inlining grows exponentially. Plan: one "
        "daily aggregate + per-type array fold for 5 lagged moment "
        "sums, then O(K²) scalar arithmetic per series."
    ),
)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xc").cast("bigint").alias("m"),
        )
        .filter(F.col("n") >= 20)
    )
    xs, n, m = F.col("xs"), F.col("n"), F.col("m")

    def s_k(k):
        # S_k = sum over t of (n*x_t - m)(n*x_{t+k} - m), exact decimal
        return F.aggregate(
            F.sequence(F.lit(1), (n - k).cast("int")),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, t: (
                acc
                + (
                    (n * F.element_at(xs, t) - m).cast("decimal(19,0)")
                    * (n * F.element_at(xs, t + F.lit(k)) - m).cast(
                        "decimal(19,0)"
                    )
                ).cast("decimal(38,0)")
            ).cast("decimal(38,0)"),
        )
    mom = h.select(
        "event_type",
        "n",
        *[s_k(k).alias(f"s{k}") for k in range(0, 6)],
    )
    rho = mom.select(
        "event_type",
        "n",
        *[
            (F.col(f"s{k}").cast("double") / F.col("s0").cast("double")).alias(
                f"r{k}"
            )
            for k in range(1, 6)
        ],
    )
    cur = rho
    for name, expr in _dl_levels(5):
        cur = cur.withColumn(name, F.expr(expr))
    return cur.select(
        "event_type",
        F.col("n").alias("n_days"),
        *[
            F.round(F.col(f"p_{k}_{k}"), 6).alias(f"pacf_{k}")
            for k in range(1, 6)
        ],
    )


@register(
    "ts_runs_test",
    "E",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS xc
            FROM events GROUP BY 1, 2
        ),
        h AS (
            SELECT event_type,
                   list(xc ORDER BY d) AS xs,
                   list(xc ORDER BY xc) AS sorted_xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 20
        ),
        med AS (
            SELECT event_type, xs, n,
                   sorted_xs[CAST((n + 1) // 2 AS INT)]
                   + sorted_xs[CAST((n + 2) // 2 AS INT)] AS med2
            FROM h
        ),
        signs AS (
            SELECT event_type, n,
                   list_filter(list_transform(xs,
                       x -> CASE WHEN 2 * x > med2 THEN 1
                                 WHEN 2 * x < med2 THEN -1
                                 ELSE 0 END), s -> s <> 0) AS sg
            FROM med
        ),
        stats AS (
            SELECT event_type, n,
                   CAST(len(list_filter(sg, s -> s = 1)) AS BIGINT) AS n1,
                   CAST(len(list_filter(sg, s -> s = -1)) AS BIGINT) AS n2,
                   CAST(1 + list_sum(list_transform(
                       generate_series(2, len(sg)),
                       i -> CASE WHEN sg[i] <> sg[i - 1]
                                 THEN 1 ELSE 0 END)) AS BIGINT) AS runs
            FROM signs
        )
        SELECT event_type, n AS n_days, n1 AS n_above, n2 AS n_below,
               runs AS n_runs,
               ROUND((CAST(runs AS DOUBLE)
                      - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                            / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                               * (n1 + n2 - 1))), 6) AS z_score,
               CAST(CASE WHEN abs(
                   (CAST(runs AS DOUBLE)
                    - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                   / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                          / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                             * (n1 + n2 - 1)))) <= 1.96
                    THEN 1 ELSE 0 END AS INT) AS looks_random
        FROM stats
    """,
    doc=(
        "WALD-WOLFOWITZ RUNS TEST (Wald & Wolfowitz, Ann. Math. Stat. "
        "1940; the classic randomness check QA runs on residuals and "
        "monitors run on metric streams): each daily value maps to "
        "above/below the series median (exact — the doubled-median "
        "trick 2x ≷ x_{(⌈n/2⌉)} + x_{(⌊n/2⌋+1)} keeps even-n medians "
        "in integers; exact ties drop, the published convention), and "
        "too FEW runs of consecutive signs means trending/clumping "
        "while too MANY means oscillation — the two-sided z against "
        "the exact run-count moments flags both. Determinism: signs, "
        "n1/n2, and the run count are exact integers from an array "
        "fold (no window); the z is one fixed-order expression whose "
        "sqrt is IEEE-correctly-rounded, and the ±1.96 verdict "
        "compares bit-identical doubles. Plan: one daily aggregate + "
        "a per-type array pass; parallelism = series count."
    ),
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d"),
        cents("value").alias("_vc"),
    )
    daily = e.groupBy("event_type", "d").agg(F.sum("_vc").alias("xc"))
    h = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "xc"))),
                lambda s: s["xc"],
            ).alias("xs"),
            F.sort_array(F.collect_list("xc")).alias("sorted_xs"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .filter(F.col("n") >= 20)
    )
    n = F.col("n")
    med2 = F.element_at(
        F.col("sorted_xs"), ((n + 1) / 2).cast("int")
    ) + F.element_at(F.col("sorted_xs"), ((n + 2) / 2).cast("int"))
    signs = h.select(
        "event_type",
        "n",
        F.filter(
            F.transform(
                F.col("xs"),
                lambda x: F.when(2 * x > med2, 1)
                .when(2 * x < med2, -1)
                .otherwise(0),
            ),
            lambda s: s != 0,
        ).alias("sg"),
    )
    runs = F.lit(1) + F.aggregate(
        F.sequence(F.lit(2), F.size("sg")),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(F.col("sg"), i) != F.element_at(F.col("sg"), i - 1),
            1,
        ).otherwise(0),
    )
    stats = signs.select(
        "event_type",
        "n",
        F.size(F.filter(F.col("sg"), lambda s: s == 1))
        .cast("bigint")
        .alias("n1"),
        F.size(F.filter(F.col("sg"), lambda s: s == -1))
        .cast("bigint")
        .alias("n2"),
        runs.cast("bigint").alias("runs"),
    )
    n1, n2, r_ = F.col("n1"), F.col("n2"), F.col("runs")
    mu = F.lit(2.0) * n1 * n2 / (n1 + n2) + F.lit(1.0)
    sd = F.sqrt(
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    z = (r_.cast("double") - mu) / sd
    return stats.select(
        "event_type",
        F.col("n").alias("n_days"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        r_.alias("n_runs"),
        F.round(z, 6).alias("z_score"),
        F.when(F.abs(z) <= 1.96, 1).otherwise(0).cast("int").alias(
            "looks_random"
        ),
    )


@register(
    "events_cuped",
    "E",
    oracle="""
        WITH span AS (
            SELECT CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS d0,
                   CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS d1
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000
                                      < (s.d0 + s.d1 + 1) // 2
                                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000
                                      >= (s.d0 + s.d1 + 1) // 2
                                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS y
            FROM events CROSS JOIN span s
            WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0))
                       AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                       AS syy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                       AS sxy
            FROM per_user
        )
        SELECT n AS n_users,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
               ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS rho_squared,
               ROUND(100.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
                              * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS variance_reduction_pct
        FROM m
    """,
    doc=(
        "CUPED variance reduction (Deng, Xu, Kohavi, Walker — WSDM "
        "2013; the pre-experiment-covariate adjustment every major "
        "experimentation platform ships): per user, X = pre-period "
        "purchase cents and Y = post-period cents (the "
        "events_did_estimator midpoint split), θ = cov(X,Y)/var(X) "
        "is the optimal linear adjustment, and var(Y − θX) shrinks by "
        "exactly ρ² — the reported percentage is how much smaller an "
        "experiment this corpus could run at the same power "
        "(agg_power_twoprop's n scales down by the same factor; the "
        "two operators together are the sizing workflow). "
        "Determinism: all five moments are exact DECIMAL(38,0) "
        "(per-user cents pre-cast to DECIMAL(19,0) before squaring — "
        "the events_bot_score overflow rule), and θ/ρ² are fixed-order "
        "round-6 expressions over those exact integers. Plan: one "
        "per-user aggregate (the only row-scale shuffle) + one global "
        "moment fold; linear, partial-aggregable."
    ),
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    dy = F.expr("unix_micros(ts) div 86400000000").cast("bigint")
    span = e.agg(F.min(dy).alias("d0"), F.max(dy).alias("d1"))
    mid = F.floor((F.col("d0") + F.col("d1") + 1) / 2)
    per_user = (
        e.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(dy < mid, cents("value")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(dy >= mid, cents("value")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(d19("x") * d19("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d19("y") * d19("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(d19("x") * d19("y")).cast("decimal(38,0)").alias("sxy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.round(cov / varx, 6).alias("theta"),
        F.round((cov * cov) / (varx * vary), 6).alias("rho_squared"),
        F.round(F.lit(100.0) * (cov * cov) / (varx * vary), 6).alias(
            "variance_reduction_pct"
        ),
    )
