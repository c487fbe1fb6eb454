"""Scalable total-order ranking — range-partitioned two-pass row numbering.

A bare ``Window.orderBy(...)`` funnels the whole relation through ONE task
(Spark warns "No Partition Defined for Window operation"), which is the
single worst scale anti-pattern for global ranks at 100 TB. This module
replaces it with the classic two-pass formulation:

1. ``repartitionByRange`` on the sort key (one shuffle, the same shuffle a
   global sort needs anyway) and tag rows with ``spark_partition_id``.
2. Per-partition ``row_number`` under ``Window.partitionBy(_pid)`` — fully
   parallel, each range partition ranks independently.
3. Global offsets: per-partition row counts (≤ shuffle-partition count of
   them, i.e. O(partitions) not O(rows)) collected and summed on the
   driver into each partition's lower-partition count, attached as one
   array literal indexed by the partition id — a projection, no join and
   no single-partition exchange anywhere on the data path.

The result is bit-identical to the single-task global ``row_number`` as
long as the sort key is a TOTAL order (callers must include a unique
tiebreak column — every registered query here does).

Derived statistics ``ntile(k)`` / ``percent_rank`` / ``cume_dist`` are
closed-form in (row_number, total_count), so the same two-pass plan serves
them: tile sizes follow SQL NTILE semantics (first ``n % k`` tiles get
``n//k + 1`` rows).
"""

from __future__ import annotations

import operator
from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from big_data_management_and_analytics_spark.operators._two_pass_scaffold import (
    two_pass_scan,
)


def _spark_max(a, b):
    """Spark's MAX order on two non-null values: NaN sorts above every
    double (Python's ``max`` returns whichever argument came first)."""
    return a if a != a or a >= b else b


def _sum(a, b):
    """Spark's SUM null handling on two values: nulls are skipped."""
    return b if a is None else a if b is None else a + b


def _plus(a: Column, b: Column) -> Column:
    """``_sum`` as a column expression: a null running sum (an all-null
    stretch of values) or a null prefix (nothing below) is skipped."""
    return F.coalesce(a + b, a, b)


def with_global_row_number(
    df: DataFrame,
    order: Sequence[Column],
    rn: str = "rn",
    total: Optional[str] = None,
) -> DataFrame:
    """Attach a global ``row_number`` over a total order without a
    single-partition window; optionally attach the grand total row count.

    ``order`` must be a total order (include a unique tiebreak). The rank
    column is LongType. When ``total`` is given, a column of that name
    carries COUNT(*) (a literal folded on the driver from the ≤
    #partitions counter rows).
    """
    w = Window.partitionBy("_pid").orderBy(*order)
    return two_pass_scan(
        df,
        order,
        part_agg=lambda: F.count(F.lit(1)),
        combine=operator.add,
        finish=lambda j: j.withColumn(
            rn, _plus(F.row_number().over(w), F.col("_prefix"))
        ),
        total=total,
    )


def ntile_expr(rn: Column, total: Column, k: int) -> Column:
    """SQL NTILE(k) from a global row number + total count.

    With ``n`` rows: base = n div k, rem = n mod k; the first ``rem``
    tiles hold ``base + 1`` rows, the rest ``base``. Closed form, exact
    for n < 2^53 (floor math on doubles is exact in that range).
    """
    base = F.floor(total / k)
    rem = total - base * k
    head = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    return (
        F.when(rn <= head, F.floor((rn - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((rn - head - 1) / F.greatest(base, F.lit(1))) + 1)
        .cast("int")
    )


def percent_rank_expr(rn: Column, total: Column) -> Column:
    """PERCENT_RANK over a total order: (rn - 1) / (n - 1); 0.0 for n = 1."""
    return F.when(total > 1, (rn - F.lit(1)) / (total - F.lit(1))).otherwise(0.0)


def cume_dist_expr(rn: Column, total: Column) -> Column:
    """CUME_DIST over a total order: rn / n (no peers when the order is total)."""
    return rn / total


def with_global_prefix_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out: str,
) -> DataFrame:
    """Attach the STRICT prefix max of ``value_col`` over the total order
    ``order_col`` (max over all rows ordered strictly before; null for the
    first row) without a single-partition window.

    Same two-pass shape as ``with_global_row_number``: range shuffle on
    the order key, per-partition running max (exclusive frame), and the
    per-partition maxima folded on the driver into each partition's
    lower-partition max — max is associative, so the per-partition scan
    + cross-partition combine is exact.
    """
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips nulls: first row of the first partition gets null
    # (no predecessor anywhere), which is exactly "no bound yet".
    return two_pass_scan(
        df,
        [F.col(order_col)],
        part_agg=lambda: F.max(value_col),
        combine=_spark_max,
        finish=lambda j: j.withColumn(
            out, F.greatest(F.col("_prefix"), F.max(value_col).over(w))
        ),
    )


def with_global_prefix_sums(
    df: DataFrame,
    order: Sequence[Column],
    value_cols: Sequence[str],
    outs: Sequence[str],
) -> DataFrame:
    """Inclusive prefix sums of SEVERAL long columns over one total order
    in a single range shuffle (struct-aggregated two-pass scan).

    The empirical-CDF statistics (two-sample KS, Mann-Whitney) need the
    running counts of two or more groups along the same value order;
    running ``with_global_prefix_sum`` per column would repeat the range
    shuffle. Here the per-partition aggregate is a struct of sums and the
    driver-side combine folds each field independently — one shuffle
    regardless of column count. Exact arithmetic only (long columns).
    """
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fields = [f"_s{i}" for i in range(len(value_cols))]

    def finish(j: DataFrame) -> DataFrame:
        for fld, col, out in zip(fields, value_cols, outs):
            j = j.withColumn(
                out, _plus(F.sum(col).over(w), F.col("_prefix").getField(fld))
            )
        return j

    return two_pass_scan(
        df,
        order,
        part_agg=lambda: F.struct(
            *[F.sum(c).alias(f) for c, f in zip(value_cols, fields)]
        ),
        combine=lambda a, b: tuple(map(_sum, a, b)),
        finish=finish,
    )


def with_global_prefix_sum(
    df: DataFrame,
    order: Sequence[Column],
    value_col: str,
    out: str,
    total: Optional[str] = None,
) -> DataFrame:
    """Attach the INCLUSIVE prefix sum of ``value_col`` (a long column —
    exact arithmetic only) over the total order ``order`` without a
    single-partition window; optionally attach the grand total.

    Third member of the two-pass family (row number, prefix max, prefix
    sum — all associative scans over the same range shuffle): range
    partitions, per-partition inclusive running sum, and the driver-folded
    sum of the lower partitions as the cross-partition offset.
    """
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return two_pass_scan(
        df,
        order,
        part_agg=lambda: F.sum(value_col),
        combine=operator.add,
        finish=lambda j: j.withColumn(
            out, _plus(F.sum(value_col).over(w), F.col("_prefix"))
        ),
        total=total,
    )
