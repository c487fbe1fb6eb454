"""Local differential harness — mirrors the driver's DuckDB comparison.

Runs each registered query on Spark AND its oracle SQL on DuckDB over the
same parquet fixtures, then compares row-count, dtypes, and exact
(order-insensitive) values. Strings floats with ``repr`` so a single flipped
bit is a reported mismatch — stricter than any reasonable driver hash.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [name ...]
    python tools/check.py --sf <sf0.1 fixture dir>
    python tools/check.py --list

The sf0.1 sweep runs every oracle-tier id, including the 112M-pair
near-exact oracle (~7 min) and the 5.1M-row ssjoin oracle, whose DuckDB
side alone peaks near 14 GB; the round-5 10x sweep caught three
cross-engine rounding bugs the sf0.01 fixtures never tripped. Run it
after any change to float math.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        opts = ""
        if os.path.isdir(path):
            # Multi-file fixture (tools/make_multifile.py): {t}.parquet is
            # a directory of part files (the production layout), possibly
            # hive-partitioned ({col}={val}/ subdirs). Hive detection
            # requires an actual {col}={val} DIRECTORY (a stray file with
            # '=' in its name must not misroute a flat layout), and
            # hive_types=0-style autocasting is disabled so a digit-only
            # partition value keeps the string type Spark's load() check
            # enforces.
            if any(
                "=" in d and not d.startswith("=")
                and os.path.isdir(os.path.join(path, d))
                for d in os.listdir(path)
            ):
                path, opts = (
                    f"{path}/**/*.parquet",
                    ", hive_partitioning=1, hive_types_autocast=0",
                )
            else:
                path = f"{path}/*.parquet"
        safe = path.replace("'", "''")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{safe}'{opts})"
        )
    return con


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer,)):
        return repr(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_fmt(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if v is pd.NaT:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_fmt(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def _complex_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding driver-UNDELIVERABLE cells (ndarray/list/dict/...).

    The driver's canonicalizer sorts raw pandas columns and crashes on
    unhashable cells (``TypeError: unhashable type: 'numpy.ndarray'`` —
    CORRECTNESS_r07 ``events_feature_vector``). This harness used to
    serialize such cells in ``_fmt`` and so could pass a query the driver
    would record as an error; now any oracle-tier output carrying a
    complex-typed cell is an outright FAIL, keeping the rehearsal
    bit-faithful to the driver (VERDICT r7 item 2).
    """
    bad = []
    for c in df.columns:
        col = df[c]
        if col.dtype.kind != "O":
            continue
        # Short-circuit on the first non-null cell: a column is either
        # uniformly scalar (str/int/None) or uniformly complex — both
        # sides here come out of Arrow/DuckDB typed columns, so the cell
        # type cannot vary row-to-row. Scanning every cell of every
        # string column cost seconds per sweep on multi-million-row
        # outputs (the ~5.1M-row ssjoin relation; ADVICE r8).
        for v in col:
            if isinstance(v, (np.ndarray, list, tuple, dict, set)):
                bad.append(str(c))
                break
            if (
                v is None
                or v is pd.NaT
                or v is pd.NA
                or (isinstance(v, float) and np.isnan(v))
            ):
                continue  # nulls are typeless (incl. pandas sentinels,
                # ADVICE r9: a leading NaT/NA must not end the scan and
                # misclassify a complex column as scalar) — keep looking
            break  # first non-null cell is scalar → column is scalar
    return bad


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> list[str]:
    issues: list[str] = []
    for side, df in (("spark", spark_pd), ("duck", duck_pd)):
        bad = _complex_cols(df)
        if bad:
            issues.append(
                f"driver-undeliverable complex-typed {side} columns {bad}: "
                "the driver's canonicalizer crashes sorting unhashable "
                "cells — serialize via concat_ws or split into scalar "
                "columns (SURVEY §2.0 amendment 11)"
            )
    if issues:
        return issues
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        issues.append(
            f"columns differ: spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}"
        )
        return issues
    if len(spark_pd) != len(duck_pd):
        issues.append(f"row count: spark={len(spark_pd)} duck={len(duck_pd)}")
    # dtype kinds (loose — driver compares its own way; values are the gate)
    for c in sorted(spark_pd.columns):
        ks, kd = spark_pd[c].dtype.kind, duck_pd[c].dtype.kind
        if ks != kd and {ks, kd} not in ({"i", "f"}, {"M", "O"}, {"i", "O"}):
            issues.append(f"dtype kind {c}: spark={spark_pd[c].dtype} duck={duck_pd[c].dtype}")
    a, b = canon(spark_pd), canon(duck_pd)
    if a != b:
        n_bad = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
        issues.append(f"values differ ({n_bad} rows); first diffs:")
        shown = 0
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y and shown < 3:
                issues.append(f"  row{i} spark={x}")
                issues.append(f"  row{i}  duck={y}")
                shown += 1
    return issues


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--category", default=None)
    ap.add_argument(
        "--new-id-gate",
        action="store_true",
        help="SURVEY §5 rule 6: run the named ids through the sf0.1 "
        "differential sweep at BOTH shuffle-partition widths (32 and 7) "
        "by re-invoking this script in subprocesses (the width is a "
        "session-construction conf). Nonzero exit on any miss. "
        "Required before REGISTERING any new oracle-tier id. spread() "
        "runs at min(width, defaultParallelism), so on a host with 7 or "
        "fewer cores both widths give the same spread width; tier-1's "
        "3-vs-17 test_shuffle_partition_invariance covers spread-width "
        "invariance.",
    )
    ap.add_argument(
        "--driver-surface",
        action="store_true",
        help="Rehearse the EXACT per-round driver contract instead of the "
        "engine registry: a hostile-config vanilla SparkSession (non-UTC "
        "timezone, inferTimestampNTZ on, zero engine confs at build) runs "
        "the callables from "
        "__spark_entry__.queries() and compares them against "
        "__spark_entry__.oracle_sql() on DuckDB — the surface "
        "CORRECTNESS_r{N}.json is produced from. As on the real driver, "
        "the first table load runs sources.session.tune(), which sets the "
        "runtime confs: UTC, NTZ inference off, and 32 shuffle partitions "
        "(or $SPARK_GRAFT_SHUFFLE_PARTITIONS) over Spark's default 200; "
        "static confs such as the codegen cache size stay at Spark's "
        "defaults, and PySpark's DataFrame call-site capture stays on, so "
        "timings taken here include its extra py4j round trips on every "
        "Column call. Previous rounds ran this "
        "ad-hoc on the 50-id queue prefix; as a flag it can certify the "
        "full registry ahead of driver rotation.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.new_id_gate:
        import subprocess

        if not args.names:
            print("--new-id-gate requires explicit id names", file=sys.stderr)
            return 2
        sf = args.sf if args.sf != ap.get_default("sf") else "/root/testdata/sf0.1"
        rc = 0
        for width in ("32", "7"):
            env = dict(os.environ, SPARK_GRAFT_SHUFFLE_PARTITIONS=width)
            print(f"== new-id gate: sf={sf} shuffle.partitions={width} ==")
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--sf", sf, *args.names],
                env=env,
            )
            rc = rc or r.returncode
        print("new-id gate:", "PASS" if rc == 0 else "FAIL")
        return rc

    import big_data_management_and_analytics_spark as engine

    engine.load_all()
    qs = engine.all_queries()

    if args.driver_surface:
        # The driver imports __spark_entry__ and iterates queries() in its
        # own (queue) order with its own session; mirror that exactly.
        import __spark_entry__ as entry_mod

        fns = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        names = args.names or list(fns)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
            )
            .appName("driver_surface_rehearsal")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        con = duck_con(args.sf)
        passed = failed = rows_only = 0
        for name in names:
            t0 = time.time()
            try:
                sdf = fns[name](spark, args.sf).toPandas()
            except Exception:
                print(f"FAIL  {name}: spark raised")
                traceback.print_exc(limit=4)
                failed += 1
                continue
            if name not in oracles:
                print(f"ROWS  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
                rows_only += 1
                continue
            try:
                ddf = con.execute(oracles[name]).df()
            except Exception:
                print(f"FAIL  {name}: duckdb raised")
                traceback.print_exc(limit=4)
                failed += 1
                continue
            issues = compare(name, sdf, ddf)
            if issues:
                print(f"FAIL  {name}  ({time.time()-t0:.1f}s)")
                for i in issues[:10]:
                    print(f"      {i}")
                failed += 1
            else:
                print(f"PASS  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
                passed += 1
        print(
            f"\ndriver-surface: {passed} passed, {failed} failed, "
            f"{rows_only} rows-only"
        )
        return 1 if failed else 0

    if args.list:
        for n, q in sorted(qs.items()):
            print(f"{q.category}  {'oracle' if q.oracle else 'rows  '}  {n}")
        print(f"{len(qs)} queries, {sum(1 for q in qs.values() if q.oracle)} oracle-tier")
        return 0

    names = args.names or sorted(qs)
    if args.category:
        names = [n for n in names if qs[n].category == args.category]

    from big_data_management_and_analytics_spark.sources.session import get_spark

    spark = get_spark("check")
    con = duck_con(args.sf)
    passed = failed = rows_only = 0
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc(limit=4)
            failed += 1
            continue
        if q.oracle is None:
            tag = "ROWS" if len(sdf) >= 0 else "FAIL"
            print(f"{tag}  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            rows_only += 1
            continue
        try:
            ddf = con.execute(q.oracle).df()
        except Exception:
            print(f"FAIL  {name}: duckdb raised")
            traceback.print_exc(limit=4)
            failed += 1
            continue
        issues = compare(name, sdf, ddf)
        if issues:
            print(f"FAIL  {name}  ({time.time()-t0:.1f}s)")
            for i in issues[:10]:
                print(f"      {i}")
            failed += 1
        else:
            print(f"PASS  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
