"""Shared scaffold for the two-pass associative-scan family.

One range shuffle (the shuffle a distributed sort of the output needs
anyway), a per-partition aggregate of ≤ #partitions counter rows folded
into per-partition prefix state on the driver, and a partitioned window
for the in-partition scan. The public members in ``global_rank.py`` (row
number, prefix max, prefix sum(s)) differ only in the aggregate, the
driver-side combine, and the finishing expression — everything else
lives here once.
"""

from __future__ import annotations

from typing import Any, Callable, Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import ArrayType, DataType, StructType

from big_data_management_and_analytics_spark.sources.io import checkpoint


def _literal(value: Any, dtype: DataType) -> Column:
    """A collected (or driver-folded) value as a literal of type ``dtype``."""
    if value is not None and isinstance(dtype, StructType):
        return F.struct(
            *[
                _literal(value[i], f.dataType).alias(f.name)
                for i, f in enumerate(dtype.fields)
            ]
        )
    return F.lit(value).cast(dtype)


def two_pass_scan(
    df: DataFrame,
    order: Sequence[Column],
    part_agg: Callable[[], Column],
    combine: Callable[[Any, Any], Any],
    finish: Callable[[DataFrame], DataFrame],
    total: Optional[str] = None,
) -> DataFrame:
    """Run the shared two-pass plan.

    ``part_agg()`` aggregates each range partition to one ``_pagg`` value.
    The ≤ #partitions values are collected and folded on the driver with
    ``combine(a, b)`` over the Python values as collected; ``None`` (no
    predecessor, an empty partition, an all-null aggregate) is the fold's
    identity, so ``combine`` only ever sees two non-None values.
    ``finish(df)`` receives the ranged rows with ``_pid`` and ``_prefix``
    — the fold of every LOWER partition, null for the first — and must
    add the output column(s); the scaffold drops both afterwards.
    ``total`` attaches the fold of every partition as a literal column.
    """
    num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # The ranged relation feeds TWO plans (the counter collect and the
    # data path). Evaluated twice, AQE can coalesce the upstream shuffle
    # DIFFERENTLY for each, which changes the range sampler's input and
    # hence the partition boundaries: the two evaluations then disagree
    # on spark_partition_id per row and the offsets silently corrupt the
    # scan (observed: prefix sums exceeding the relation size at
    # shuffle=17). The eager checkpoint freezes _pid ONCE for every
    # consumer, at linear cost.
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    parts = ranged.groupBy("_pid").agg(part_agg().alias("_pagg"))
    dtype = parts.schema["_pagg"].dataType
    pagg = dict(parts.collect())
    prefixes, acc = [], None
    for pid in range(max(pagg, default=0) + 1):
        prefixes.append(_literal(acc, dtype))
        b = pagg.get(pid)
        acc = b if acc is None else acc if b is None else combine(acc, b)
    # One array literal indexed by _pid: a projection, not a join, so no
    # join's size-only estimate (the PRODUCT of its children) reaches the
    # join planning downstream of the scan.
    prefix = F.array(*prefixes).cast(ArrayType(dtype))
    out_df = finish(
        ranged.withColumn("_prefix", F.element_at(prefix, F.col("_pid") + 1))
    ).drop("_pid", "_prefix")
    if total is not None:
        out_df = out_df.withColumn(total, _literal(acc, dtype))
    return out_df
