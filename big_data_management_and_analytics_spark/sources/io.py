"""Table loading with pinned schemas (FIXTURES.md ground truth).

Every query goes through ``load`` so the events ns→µs recipe and schema
validation are applied uniformly. ``register_views`` exposes all tables as
temp views for the SQL entry point (SURVEY.md §3 entry point 2).
``scratch_dir`` is where every file a query writes lives. ``checkpoint`` is
the one place lineage is truncated.

Scale note: loads are plain ``spark.read.parquet`` — column pruning and
predicate pushdown reach the scan because nothing here materializes or caches;
the DataFrame returned is still a lazy scan node.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.sources.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Pinned logical schemas AFTER the load recipe (FIXTURES.md).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# The one per-process root of every scratch_dir; made by the first call.
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory for files a query writes.

    A query returns a lazy DataFrame that reads the files it wrote only
    when collected, which may be after later calls. So every directory
    lives under one root per process, made in the temp dir (``TMPDIR``) on
    first use, and only an exit hook removes that root: no call deletes
    what an earlier call's frame still reads."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="bdma-spark-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def with_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events ``ts`` to TimestampType whatever its parquet type.

    A TIMESTAMP(NANOS) column (which Spark 4 rejects) reads as int64
    nanoseconds under nanosAsLong and is truncated here to µs by integer
    division, bit-identical to DuckDB's ns→µs truncation (SURVEY.md §0 P1).
    A TIMESTAMP(MICROS) column is already a timestamp and passes through."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# DataFrames are immutable logical plans, so the (session, dir, table) →
# DataFrame mapping is safe to memoize; saves re-listing + footer reads on
# every query invocation (bench runs each query 4×).
_LOAD_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one fixture table with the pinned schema (events ``ts`` through
    ``with_event_ts``)."""
    key = (id(spark), os.path.abspath(sf_dir), table)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    if len(_LOAD_CACHE) > 256:
        # Bound the cache: long-lived processes cycling sessions/dirs must
        # not pin plan references (and stopped sessions) forever. Evict
        # only OTHER sessions' entries so the live session keeps its
        # memoization mid-run; fall back to a full clear if one session
        # alone overflows the bound (256 > tables × plausible sf dirs).
        stale = [k for k in _LOAD_CACHE if k[0] != id(spark)]
        for k in stale:
            del _LOAD_CACHE[k]
        if len(_LOAD_CACHE) > 256:
            _LOAD_CACHE.clear()
    tune(spark)
    path = os.path.join(sf_dir, f"{table}.parquet")
    df = spark.read.parquet(path)
    if table == "events":
        df = with_event_ts(df)
    expected = SCHEMAS[table]
    got = {f.name: f.dataType for f in df.schema.fields}
    for f in expected.fields:
        if f.name not in got:
            raise ValueError(f"{table}: missing pinned column {f.name}")
        if got[f.name] != f.dataType:
            raise ValueError(
                f"{table}.{f.name}: expected {f.dataType}, parquet has {got[f.name]}"
            )
    # Stable column order = pinned order.
    df = df.select(*[f.name for f in expected.fields])
    _LOAD_CACHE[key] = df
    return df


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Rows built on the driver as an Arrow-path local relation.

    ``spark.createDataFrame(<list>, schema)`` plans as ``Scan ExistingRDD``,
    a pickled RDD sliced over ``defaultParallelism`` tasks and run as a job
    on every materialization; a pandas input crosses through Arrow and
    plans as ``LocalTableScan`` with the same rows (a two-row frame's
    build + noop write measured 0.48 → 0.07 s, 4-core host). Columns are
    object dtype so Arrow converts the Python values themselves: a long
    stays exact and None stays null instead of becoming a float NaN. An
    empty ``rows`` takes Spark's list path (Arrow is skipped for it)."""
    names = T._parse_datatype_string(schema).names
    pdf = pd.DataFrame(
        {n: pd.Series([r[i] for r in rows], dtype=object) for i, n in enumerate(names)}
    )
    return spark.createDataFrame(pdf, schema)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every fixture table as a temp view (SQL entry point)."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def slot_width(spark: SparkSession) -> int:
    """``min(spark.sql.shuffle.partitions, defaultParallelism)``: one task
    per slot that will run the work, with the shuffle width as the upper
    bound.

    Measured on a 4-core host over one warm noop pass of perfbench's
    ``llm_pipeline`` ids at sf0.01: with ``spread`` sized to the shuffle
    width (32), 16 of its 54 completed stages ran 32 tasks each, 553 tasks
    in all with 7.2 s of executor run time and 1.5 s of deserialization;
    at the slot count it runs 105 tasks, 4.5 s and 0.4 s, and the
    perfbench warm pass median went 8.60 → 7.39 s (10 interleaved pairs).
    Cluster caveat: under dynamic allocation ``defaultParallelism``
    counts only the executors already registered (at least 2), so set
    Spark's own ``spark.default.parallelism`` to the slot count there."""
    return min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def spread(df: DataFrame, *keys: str, skip_when_split: bool = False) -> DataFrame:
    """Explicit-count keyed repartition ahead of CPU-heavy row expressions.

    A single-file fixture scan is one input partition, so tokenize/
    shingle/hash expressions would otherwise run in one task regardless
    of cluster width. The count is explicit because AQE's size-based
    coalescing folds a few MB of text right back to one partition —
    correct for shuffle bytes, wrong when the cost is downstream CPU per
    row.

    Width: ``slot_width``. The explicit count is never coalesced by AQE,
    and its hash partitioning on the key also satisfies every downstream
    aggregate and join on that key, so those stages run at this width
    too.

    ``skip_when_split``: when the input ALREADY has at least that many
    files (the production layout — at 100 TB every table is thousands of
    files), the exchange is pure cost for a SINGLE-consumer chain: the
    scan's splits provide the parallelism, and repartitioning raw
    text/binary is the pipeline's largest shuffle. But the exchange is
    ALSO the sharing anchor Spark's ReuseExchange keys on — in a
    multi-consumer pipeline (llm_dedup_ssjoin reads its token relation
    from ~5 subplans) skipping it re-runs scan+tokenize once PER
    consumer (measured 9 → 111 s at a 64-file sf0.1 copy). So the skip
    is strictly OPT-IN for call sites whose spread output feeds one
    linear chain (or is immediately re-anchored by a checkpoint), each
    A/B-measured on a ≥width multi-file fixture. Values are
    partitioning-independent by the engine's determinism rules
    (certified across widths 32/7 and file layouts — SCALE.md), so the
    skip can only change the plan, never the result. inputFiles() reads
    the already-built file index (no job); non-file inputs (streaming,
    local relations) fall through to the repartition."""
    n = slot_width(df.sparkSession)
    if skip_when_split:
        try:
            if len(df.inputFiles()) >= n:
                return df
        except Exception:
            pass
    return df.repartition(n, *keys)


# The SparkContext the checkpoint policy was last read from, and whether it
# has a checkpoint dir. One slot: a process runs one SparkContext at a time.
_CHECKPOINT_POLICY: tuple[object, bool] | None = None


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: the returned frame scans materialized rows
    (``LogicalRDD``, output partitioning kept), so an iterative loop
    re-plans O(1) work per round and a frame read by several consumers is
    computed once. Call it as ``df.transform(checkpoint)`` or
    ``df.transform(checkpoint, eager=False)``; it is the only caller of
    Spark's checkpoints in the package.

    Which checkpoint is the deployment's choice, through Spark's own conf:

    - no checkpoint dir (the default): ``localCheckpoint``. The rows live
      in the block managers of the executors that computed them, so a
      lost executor loses its blocks and the next action fails
      (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) instead of recomputing.
    - ``spark.checkpoint.dir`` set to a path every executor can reach:
      reliable ``checkpoint``. The rows are written there, and a query
      survives losing an executor. The same plans, one more write per
      checkpoint. The files stay after the query unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true.

    The dir is read once per SparkContext (``getCheckpointDir`` is three
    py4j commands, and one ``llm_dedup_components`` build checkpoints seven
    times), so set it through the conf before the first query, not with a
    later ``setCheckpointDir``."""
    global _CHECKPOINT_POLICY
    sc = df.sparkSession.sparkContext
    if _CHECKPOINT_POLICY is None or _CHECKPOINT_POLICY[0] is not sc:
        _CHECKPOINT_POLICY = (sc, sc.getCheckpointDir() is not None)
    if _CHECKPOINT_POLICY[1]:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
