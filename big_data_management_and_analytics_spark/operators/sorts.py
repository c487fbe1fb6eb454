"""Category F — sorts, limits, top-k (SURVEY.md §2.F).

The driver's hash is order-insensitive, so ordered queries encode their
order into a row_number column (total order via primary-key tiebreak) —
the hash then verifies the ordering itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.operators.global_rank import (
    with_global_row_number,
)
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import load


@register(
    "sort_multikey",
    "F",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (
                   ORDER BY o_orderpriority ASC,
                            o_totalprice DESC NULLS LAST,
                            o_orderkey ASC
               ) AS sort_pos
        FROM orders
        WHERE o_orderkey <= 20000
    """,
    doc="Multi-key sort (asc/desc, NULLS LAST) verified via encoded position.",
)
def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 20000)
    order = [
        F.col("o_orderpriority").asc(),
        F.col("o_totalprice").desc_nulls_last(),
        F.col("o_orderkey").asc(),
    ]
    # Two-pass global rank: repartitionByRange on the sort key + per-range
    # row_number + driver-folded offsets — same result as a global-window
    # ROW_NUMBER but with no single-partition funnel (scale posture §4).
    ranked = with_global_row_number(o, order, rn="sort_pos")
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("sort_pos").cast("int").alias("sort_pos"),
    )


@register(
    "sort_topk",
    "F",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 25
    """,
    doc="Global top-k (TakeOrderedAndProject) with primary-key tiebreak.",
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(25)
    )


@register(
    "limit_unordered",
    "F",
    doc="Bare limit — nondeterministic row choice, rows-tier count semantics.",
)
def limit_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").limit(100)


@register(
    "part_range_partitioning",
    "F",
    doc=(
        "Physical partitioning surface: repartitionByRange + "
        "sortWithinPartitions — the write-side layout op that makes "
        "downstream merge joins and parquet min/max pruning effective at "
        "100 TB. Range boundaries come from sampling → rows-tier; the "
        "plan must show RangePartitioning (asserted in tests)."
    ),
)
def part_range_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    parts = (
        o.repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .select(
            F.spark_partition_id().alias("pid"),
            "o_totalprice",
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )
    return parts


def _zspread_sql(col: str) -> str:
    """Spread a 32-bit value's bits to even positions of a 64-bit word
    (Morton interleave half) via constant-shift magic masks — pure integer
    codegen, the same closed form on both engines. Precondition: keys must
    fit in 31 bits (true for all TPC-H surrogate keys well past sf100k);
    bits >= 2^32 would alias. The previous 16-bit form silently dropped
    bits >= 2^16 (round-2 advice)."""
    x = f"CAST({col} AS BIGINT)"
    x = f"(({x} | ({x} << 16)) & {0x0000FFFF0000FFFF})"
    x = f"(({x} | ({x} << 8)) & {0x00FF00FF00FF00FF})"
    x = f"(({x} | ({x} << 4)) & {0x0F0F0F0F0F0F0F0F})"
    x = f"(({x} | ({x} << 2)) & {0x3333333333333333})"
    x = f"(({x} | ({x} << 1)) & {0x5555555555555555})"
    return x


_ZVAL_SQL = (
    f"({_zspread_sql('l_partkey')} | ({_zspread_sql('l_suppkey')} << 1))"
)


@register(
    "part_zorder_layout",
    "F",
    oracle=f"""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {_ZVAL_SQL} AS zval
        FROM lineitem
    """,
    doc=(
        "Z-order (Morton) data layout: interleave the bits of "
        "(l_partkey, l_suppkey) with constant-shift magic-mask spreading "
        "(pure integer codegen, no loop), then repartitionByRange + "
        "sortWithinPartitions on the z-value — the OPTIMIZE ZORDER "
        "pattern that makes parquet min/max pruning effective for "
        "filters on EITHER key dimension at 100 TB. The z-values are "
        "hash-verified against the identical closed form in DuckDB; the "
        "plan must show RangePartitioning (asserted in tests)."
    ),
)
def part_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    z = li.withColumn("zval", F.expr(_ZVAL_SQL))
    return z.repartitionByRange(8, "zval").sortWithinPartitions("zval")


@register(
    "limit_offset_pagination",
    "F",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 50 OFFSET 100
    """,
    doc=(
        "Keyless pagination: page 3 (rows 101-150) of the price-ranked "
        "order book via ORDER BY + OFFSET + LIMIT — the result-paging "
        "surface a BI layer issues. Spark 4 supports offset() natively: "
        "the plan is a global TakeOrderedAndProject of the first "
        "offset+limit rows (each partition ships at most 150 rows to one "
        "final merge — O(p * (offset+limit)) transfer, no full sort). "
        "The hash compare verifies the page CONTENT against the oracle's "
        "identical total order (price DESC, key ASC tiebreak). Posture "
        "note: OFFSET cost grows linearly with page depth — deep "
        "pagination at 100 TB should switch to keyset pagination "
        "(WHERE (price, key) < last_seen ORDER BY ... LIMIT n), which is "
        "the same plan this operator's top-k sibling (sort_topk) uses."
    ),
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(100)
        .limit(50)
    )


@register(
    "sort_natural",
    "F",
    oracle="""
        WITH labeled AS (
            SELECT p_partkey,
                   'item-' || p_size || '-' || p_brand AS label
            FROM part
        ),
        keyed AS (
            SELECT p_partkey, label,
                   array_to_string(list_transform(
                       regexp_extract_all(label, '[0-9]+|[^0-9]+'),
                       t -> CASE WHEN regexp_matches(t, '^[0-9]')
                                 THEN lpad(t, 12, '0') ELSE t END), '')
                       AS nat_key
            FROM labeled
        )
        SELECT p_partkey, label,
               ROW_NUMBER() OVER (ORDER BY nat_key ASC, p_partkey ASC)
                   AS sort_pos
        FROM keyed
    """,
    doc=(
        "Natural (alphanumeric) ordering: item-2 sorts before item-10 by "
        "zero-padding every digit run to width 12 inside the sort key "
        "(regexp tokenize -> transform -> rejoin, all codegen "
        "expressions — no UDF). Lexicographic ORDER BY on the padded key "
        "IS the natural order, so the heavy machinery is unchanged: the "
        "global order rides the two-pass range-partitioned row number "
        "(operators/global_rank.py), no single-partition window. The "
        "oracle builds the identical key with list_transform + lpad."
    ),
)
def sort_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    label = F.concat(F.lit("item-"), F.col("p_size"), F.lit("-"), F.col("p_brand"))
    nat_key = F.array_join(
        F.transform(
            F.regexp_extract_all(label, F.lit("[0-9]+|[^0-9]+"), 0),
            lambda t: F.when(t.rlike("^[0-9]"), F.lpad(t, 12, "0")).otherwise(t),
        ),
        "",
    )
    keyed = p.select(
        "p_partkey", label.alias("label"), nat_key.alias("nat_key")
    )
    ranked = with_global_row_number(
        keyed,
        [F.col("nat_key").asc(), F.col("p_partkey").asc()],
        rn="sort_pos",
    )
    return ranked.select("p_partkey", "label", "sort_pos")
