"""Multi-file fixture layout invariance (round 7).

The driver fixtures are one parquet file per table; production tables
are thousands of files. tools/make_multifile.py materializes the
directory-of-part-files layout with two stressors (file-name order
reverses row order; slices are unequal), and these tests pin that a
representative operator sample — plain agg, window, LSH dedup, the
metadata-column rollup, and a live streaming query through the
directory-aware read_events_stream — produces IDENTICAL values on both
layouts. The full multi-file differential sweep (all 428 oracle-tier
ids vs DuckDB) is a SCALE.md certification artifact; this keeps the
capability from regressing between certification runs.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import SF_SMALL, SF_T2

_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "make_multifile.py")


def _load_tool():
    spec = importlib.util.spec_from_file_location("make_multifile", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def mf_dir(tmp_path_factory):
    """Multi-file copy of the sf0.001 fixtures (reversed, unequal parts)."""
    tool = _load_tool()
    dst = str(tmp_path_factory.mktemp("mf_sf0001"))
    for t in tool.TABLES:
        n = tool.split_table(
            os.path.join(SF_SMALL, f"{t}.parquet"),
            os.path.join(dst, f"{t}.parquet"),
            4,
        )
        assert n >= 1
    return dst


def _rows(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


@pytest.mark.parametrize(
    "qid",
    [
        "agg_pricing_summary",
        "win_running_sum",
        "llm_dedup_minhash",
        "stream_tumbling_live",
        "sink_compaction",
    ],
)
def test_layout_invariance(spark, registry, mf_dir, qid):
    single = _rows(registry[qid].fn(spark, SF_SMALL))
    multi = _rows(registry[qid].fn(spark, mf_dir))
    assert single == multi


def test_metadata_rollup_is_layout_independent(spark, registry, mf_dir):
    """scan_metadata_cols groups by the TABLE-level path segment, so one
    file and a 4-part directory both report ('lineitem.parquet', total)."""
    single = {r["file_name"]: r["n_rows"]
              for r in registry["scan_metadata_cols"].fn(spark, SF_SMALL).collect()}
    multi = {r["file_name"]: r["n_rows"]
             for r in registry["scan_metadata_cols"].fn(spark, mf_dir).collect()}
    assert single == multi
    assert set(single) == {"lineitem.parquet"}


def test_metadata_rollup_via_symlinked_sf_dir(spark, registry, tmp_path):
    """ADVICE r9: Spark records the AS-GIVEN path in _metadata.file_path,
    not the resolved one — reading via a symlinked sf_dir whose basename
    differs from its target yields file:/.../<symlink-name>/... . The
    anchor therefore matches EITHER the abspath or the realpath basename;
    a pure-realpath anchor never matches here and the in-expression
    raise_error guard fires instead of silently yielding ''."""
    link = str(tmp_path / "linked_fixtures")
    os.symlink(os.path.realpath(SF_SMALL), link)
    out = {r["file_name"]: r["n_rows"]
           for r in registry["scan_metadata_cols"].fn(spark, link).collect()}
    assert set(out) == {"lineitem.parquet"}


@pytest.fixture(scope="module")
def hive_dir(tmp_path_factory):
    """Hive-partitioned copy of sf0.001: orders by o_orderstatus,
    lineitem by l_returnflag, documents by lang; other tables flat."""
    tool = _load_tool()
    dst = str(tmp_path_factory.mktemp("hv_sf0001"))
    for t in tool.TABLES:
        src = os.path.join(SF_SMALL, f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        if t in tool.HIVE_COLS:
            tool.split_table_hive(src, out, tool.HIVE_COLS[t], 4)
        else:
            tool.split_table(src, out, 4)
    return dst


@pytest.mark.parametrize(
    "qid",
    [
        "agg_pricing_summary",  # lineitem grouped BY the partition column
        "tpch_q4_priority",     # orders filtered across partition values
        "llm_text_stats",       # documents with lang in the output
        "sink_compaction",      # lineitem read as one split per hive file
    ],
)
def test_hive_layout_invariance(spark, registry, hive_dir, qid):
    single = _rows(registry[qid].fn(spark, SF_SMALL))
    hive = _rows(registry[qid].fn(spark, hive_dir))
    assert single == hive


def test_hive_partition_pruning_engages(spark, hive_dir):
    """A partition-column filter must become a PartitionFilter (static
    pruning), and at runtime the scan must touch ONLY that partition's
    files — the mechanism that turns a 100 TB table into a 30 TB read
    when a query names the partition key."""
    from pyspark.sql import functions as F

    from big_data_management_and_analytics_spark.sources.io import load

    li = load(spark, hive_dir, "lineitem")
    flt = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_returnflag")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    touched = {
        r[0]
        for r in flt.select(F.col("_metadata.file_path")).distinct().collect()
    }
    assert touched, "filter should match at least one partition"
    assert all("l_returnflag=R" in p for p in touched), touched


def test_hive_dynamic_partition_pruning_engages(spark, hive_dir):
    """Dynamic partition pruning on the REAL hive layout (previously only
    exercised via join_dpp_prune's self-materialized dim): a join whose
    key is the fact's partition column and whose dim side is selective
    must inject a dynamicpruning subquery into the fact scan, and at
    runtime the fact side must read only the surviving partition's
    files. The dim maps 'F'→'R' so the pruning value is NOT statically
    derivable from the dim filter — only the runtime subquery result."""
    from pyspark.sql import functions as F

    from big_data_management_and_analytics_spark.sources.io import load

    li = load(spark, hive_dir, "lineitem")
    dim = (
        load(spark, hive_dir, "orders")
        .select(F.col("o_orderstatus").alias("flag"))
        .distinct()
        .filter(F.col("flag") == "F")
        .withColumn("flag", F.expr("CASE WHEN flag = 'F' THEN 'R' END"))
    )
    j = li.join(dim, li.l_returnflag == dim.flag).select("l_orderkey")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    jp = (
        li.select("l_returnflag", F.col("_metadata.file_path").alias("fp"))
        .join(dim, F.col("l_returnflag") == dim.flag)
        .select("fp")
        .distinct()
    )
    touched = {r["fp"] for r in jp.collect()}
    assert touched and all("l_returnflag=R" in p for p in touched), touched


def test_spread_skip_when_split_semantics(spark, mf_dir):
    """spread(skip_when_split=True) must return the input UNCHANGED when
    the scan already has >= spread-width files (production layout: the
    raw-column exchange is the pipeline's largest shuffle, and the file
    splits already provide the parallelism), must still repartition when
    files < width, and must NEVER skip by default — the exchange is the
    ReuseExchange sharing anchor for multi-consumer pipelines (skipping
    it in llm_dedup_ssjoin re-ran tokenize once per consumer: 9 -> 111 s
    measured at a 64-file sf0.1 copy, r7)."""
    from big_data_management_and_analytics_spark.sources.io import load, spread

    multi = load(spark, mf_dir, "lineitem")  # 4 part files (module fixture)
    single = load(spark, SF_SMALL, "lineitem")  # one file
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")  # width <= 4
        assert spread(multi, "l_orderkey", skip_when_split=True) is multi
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        assert spark.sparkContext.defaultParallelism > 1  # width > 1 file
        assert spread(single, "l_orderkey", skip_when_split=True) is not single
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        assert spread(multi, "l_orderkey") is not multi  # default: never skip
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_spread_width_is_task_slots(spark):
    """spread() runs one task per slot: min(shuffle width, defaultParallelism).
    The shuffle width stays an upper bound below the slot count."""
    from big_data_management_and_analytics_spark.sources.io import load, spread

    df = load(spark, SF_SMALL, "documents")
    slots = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for width in (2, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            got = spread(df, "doc_id").rdd.getNumPartitions()
            assert got == min(width, slots), (width, slots, got)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_multifile_scan_has_multiple_input_files(spark, mf_dir):
    """The stressor is real: the multi-file lineitem scan reads >1 file
    (distinct _metadata.file_path), so the invariance tests above are
    exercising a genuinely split input, not a degenerate single part."""
    from pyspark.sql import functions as F

    from big_data_management_and_analytics_spark.sources.io import load

    n = (
        load(spark, mf_dir, "lineitem")
        .select(F.col("_metadata.file_path"))
        .distinct()
        .count()
    )
    assert n >= 2


def test_hive_safe_rejects_numeric_partition_values():
    """Digit-only hive partition values (lang=001) must be rejected at
    fixture-creation time: Spark's partition-type inference and DuckDB's
    hive autocast would both type the column numeric, so the layouts
    would silently diverge from the declared string schema (ADVICE r7)."""
    tool = _load_tool()
    for ok in ("R", "en-US", "v1.2", "A_b"):
        assert tool._HIVE_SAFE.match(ok), ok
    for bad in ("001", "1.5", "12", ".", "a b", "a/b", ""):
        assert not tool._HIVE_SAFE.match(bad), bad
    # ADVICE r8: type inference also coerces signed numerics, scientific
    # notation, and date/timestamp shapes — all must be rejected too.
    for bad in ("-12", "+7", "1e5", "1.5E-3", "-2.5e+10", "2024-01-01",
                "2024-01-01T00", ".5"):
        assert not tool._HIVE_SAFE.match(bad), bad
    # ADVICE r9: Java Double.parseDouble also accepts the special
    # doubles (NaN/Infinity, signed, any case), the [fFdD] float
    # suffixes, and hex-float literals — all lexically inside the
    # allowed character class, all must be rejected.
    for bad in ("NaN", "nan", "-NaN", "Infinity", "-Infinity", "INF",
                "inf", "1f", "2d", "3.5F", "1e3d", "0x1p3", "0X1.8p1"):
        assert not tool._HIVE_SAFE.match(bad), bad
    # ...but lexical near-misses Java cannot parse stay accepted.
    for ok in ("nanx", "info", "Infantry", "f1", "d2", "x0x1", "NaNo"):
        assert tool._HIVE_SAFE.match(ok), ok


@pytest.fixture(scope="module")
def li_6464_dir(tmp_path_factory):
    """A 4-file lineitem of 6,464 rows (reversed, unequal parts): a
    multiple of 64, so a fragment cap of n/64 rows leaves no slack for
    writers' uneven shares."""
    import pyarrow.parquet as pq

    tool = _load_tool()
    src = str(tmp_path_factory.mktemp("li6464_src") / "lineitem.parquet")
    pq.write_table(pq.read_table(os.path.join(SF_T2, "lineitem.parquet")).slice(0, 6464), src)
    dst = str(tmp_path_factory.mktemp("li6464"))
    assert tool.split_table(src, os.path.join(dst, "lineitem.parquet"), 4) == 4
    return dst


@pytest.mark.parametrize("width", [1, 2, 4])
def test_compaction_exact_from_multifile_input(spark, registry, li_6464_dir, width):
    """sink_compaction's ingest deals rows round-robin from several input
    splits, each from its own start, so writers' shares differ by up to
    one row per split; the ingest must still write exactly 64 fragments."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(width))
    [row] = registry["sink_compaction"].fn(s, li_6464_dir).collect()
    assert tuple(row) == (6464, 64, 6464, 1)


def test_fragment_writers_bound_holds_for_any_split_layout():
    """Model Spark's round-robin (each split dealt from its own start) and
    check that ``_fragment_writers``' (k, cap) yields exactly 64 files for
    random row counts, split layouts, starts and slot widths."""
    import random

    from big_data_management_and_analytics_spark.sources.scans import (
        _FRAGMENTS,
        _fragment_writers,
    )

    rng = random.Random(7)
    for _ in range(1000):
        n = rng.randrange(63 * 64 + 1, 2_000_000)
        splits = rng.randrange(1, 100)
        cuts = sorted(rng.sample(range(1, n), splits - 1))
        sizes = [b - a for a, b in zip([0, *cuts], [*cuts, n])]
        width = rng.randrange(1, 80)
        k, cap = _fragment_writers(n, splits, width)
        assert k & (k - 1) == 0 and k <= min(width, _FRAGMENTS)
        shares = [0] * k
        for size in sizes:
            start = rng.randrange(k)
            for j in range(k):
                shares[j] += size // k + ((j - start) % k < size % k)
        assert sum(-(-s // cap) for s in shares) == _FRAGMENTS, (n, sizes, k, cap)
    # One split: the width's k holds for every n > 64 * (64 / k).
    assert _fragment_writers(1025, 1, 4) == (4, 17)
    assert _fragment_writers(6000, 1, 4) == (4, 94)
