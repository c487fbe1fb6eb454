"""Exhaustive property checks for the determinism fast paths.

These aren't samples: each test sweeps EVERY 2-decimal money value in the
relevant range in one Spark job, so the cents-math equivalence the oracle
comparison relies on is proven, not spot-checked.
"""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from big_data_management_and_analytics_spark.plans.determinism import cents

# Fixture money ranges: prices ≤ ~105k, acctbals ≥ -1k (FIXTURES.md);
# sweep ±$200,000.00 → 40M distinct 2-decimal values.
CENTS_RANGE = 20_000_000


def test_cents_equals_decimal_cast_exhaustively(spark):
    """floor(x*100+0.5) == CAST(x AS DECIMAL(18,2))*100 for every 2-decimal
    double in ±$200k — the identity that lets money aggregate in longs."""
    df = spark.range(-CENTS_RANGE, CENTS_RANGE + 1).select(
        F.col("id").alias("k"), (F.col("id") / 100.0).alias("x")
    )
    bad = df.filter(
        (cents("x") != F.col("k"))
        | (F.col("x").cast("decimal(18,2)") * 100 != F.col("k"))
    ).count()
    assert bad == 0


def test_cents_division_matches_duckdb_decimal_to_double(spark):
    """sum-of-cents/100.0 must equal DuckDB's CAST(decimal-sum AS DOUBLE)
    bit-for-bit across a dense value grid (the final-projection identity)."""
    n = 200_001
    spark_vals = (
        spark.range(-(n // 2), n // 2 + 1)
        .agg((F.sum("id") + F.lit(n).cast("long") * F.lit(1234567)).alias("s"))
        .select((F.col("s") / 100.0).alias("v"))
        .collect()[0]["v"]
    )
    duck_vals = duckdb.sql(
        f"""
        SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM (SELECT (g + 1234567) / 100.0 AS x
              FROM generate_series({-(n//2)}, {n//2}) t(g))
        """
    ).fetchone()[0]
    assert spark_vals == duck_vals


def test_jaccard_bounds_and_symmetry(spark, tmp_path):
    """Jaccard outputs sit in (0, 1] and doc_a < doc_b always holds."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "jb")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = llm_dedup.llm_dedup_near_exact(spark, d).collect()
    assert rows, "fixture corpus should contain near-dups at τ=0.8"
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_zspread_interleave_is_bijective(spark):
    """The widened 32-bit Morton spread must round-trip: deinterleaving
    zval = spread(a) | spread(b)<<1 recovers (a, b) exactly for keys
    across the full 31-bit precondition range (dense low values plus a
    geometric sweep up to 2^31-1 — the range the round-2 advice found
    silently truncated at 2^16)."""
    from big_data_management_and_analytics_spark.operators.sorts import (
        _zspread_sql,
    )

    probe = spark.range(0, 4096).selectExpr(
        "id AS a",
        # geometric + offset sweep reaching 2147483647
        "CAST(pmod(id * 524287 + (id % 7) * 268435456, 2147483648) "
        "AS BIGINT) AS b",
    )
    z = probe.selectExpr(
        "a",
        "b",
        f"({_zspread_sql('a')} | ({_zspread_sql('b')} << 1)) AS zval",
    )
    # Deinterleave: gather even bits (a) and odd bits (b).
    gather = " + ".join(
        f"(((zval >> {2 * i}) & 1) << {i})" for i in range(32)
    )
    gather_b = " + ".join(
        f"(((zval >> {2 * i + 1}) & 1) << {i})" for i in range(32)
    )
    bad = z.selectExpr("a", "b", f"({gather}) AS a2", f"({gather_b}) AS b2").filter(
        "a != a2 OR b != b2"
    )
    assert bad.count() == 0


def test_skyline_matches_bruteforce_on_random_points(spark, tmp_path):
    """The prefix-max skyline formulation must agree with the O(n²)
    dominance definition on adversarial random point sets (heavy
    duplicate mass on both axes to exercise every tie branch)."""
    import random

    rng = random.Random(1337)
    rows = [
        (i, f"p{i}", "B", "T", rng.randint(1, 8), rng.randint(1, 12) / 2.0)
        for i in range(400)
    ]
    expected = sorted(
        pk
        for pk, _, _, _, size, price in rows
        if not any(
            qprice <= price
            and qsize >= size
            and (qprice < price or qsize > size)
            for _, _, _, _, qsize, qprice in rows
        )
    )
    p = spark.createDataFrame(
        rows,
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    d = str(tmp_path / "skyrand")
    p.write.mode("overwrite").parquet(d + "/part.parquet")
    from big_data_management_and_analytics_spark.operators import mining

    got = sorted(r["p_partkey"] for r in mining.skyline_pareto(spark, d).collect())
    assert got == expected


def test_global_ntile_matches_sql_semantics_on_random_sizes(spark):
    """The closed-form ntile expression must reproduce SQL NTILE tile
    sizes (first n % k tiles one row larger) for every n in 1..60, k=10
    — including n < k, where trailing tiles are empty."""
    from big_data_management_and_analytics_spark.operators.global_rank import (
        ntile_expr,
        with_global_row_number,
    )

    for n in (1, 3, 9, 10, 11, 25, 60):
        df = spark.range(n).select(F.col("id"))
        ranked = with_global_row_number(
            df, [F.col("id").asc()], rn="rn", total="total"
        )
        tiles = [
            r["t"]
            for r in ranked.select(
                ntile_expr(F.col("rn"), F.col("total"), 10).alias("t")
            )
            .orderBy("t")
            .collect()
        ]
        expected = []
        base, rem = divmod(n, 10)
        for tile in range(1, 11):
            expected += [tile] * (base + (1 if tile <= rem else 0))
        assert tiles == expected, (n, tiles)


def test_global_prefix_sum_matches_cumsum(spark):
    """The two-pass prefix sum must equal the sequential cumulative sum
    for random longs under a shuffled total order."""
    import random

    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_sum,
    )

    rng = random.Random(7)
    vals = [(i, rng.randint(-1000, 1000)) for i in range(500)]
    df = spark.createDataFrame(vals, schema="k long, v long").repartition(13)
    out = {
        r["k"]: (r["cum"], r["tot"])
        for r in with_global_prefix_sum(
            df, [F.col("k").asc()], "v", out="cum", total="tot"
        ).collect()
    }
    running, total = 0, sum(v for _, v in vals)
    for k, v in vals:
        running += v
        assert out[k] == (running, total), k


@pytest.mark.parametrize("width", [7, 17, 32])
def test_two_pass_helpers_match_single_partition_window(spark, width):
    """Every two-pass helper, with and without ``total``, must equal the
    single-partition ``Window.orderBy`` reference at several shuffle
    widths (17 is the width where AQE once re-drew the range bounds per
    consumer). The inputs cover n < width (empty range partitions), a run
    of null values longer than a range partition (an all-null partition
    aggregate), and a NaN in the prefix-max column: Spark orders NaN
    above every double, so the driver-side fold must too."""
    from pyspark.sql import Window

    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_prefix_max,
        with_global_prefix_sum,
        with_global_prefix_sums,
        with_global_row_number,
    )

    def rows(n):
        nulls = range(n // 4, n // 2)
        for k in range(n):
            v = None if k in nulls else (k * 37) % 101 - 50
            d = float("nan") if k == n // 2 else None if k in nulls else float(k % 13)
            yield k, v, k % 3, d

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        for n in (5, 300):
            df = spark.createDataFrame(
                list(rows(n)), schema="k long, v long, w long, d double"
            ).repartition(3)
            order = [F.col("k").asc()]
            upto = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            before = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
            tot = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t")).first()
            ref = df.select(
                "k",
                F.row_number().over(Window.orderBy("k")).cast("long").alias("rn"),
                F.sum("v").over(upto).alias("cv"),
                F.sum("w").over(upto).alias("cw"),
                F.max("d").over(before).alias("pm"),
                F.lit(tot["n"]).cast("long").alias("n"),
                F.lit(tot["t"]).cast("long").alias("t"),
            )

            def same(got, cols):
                def key(frame):
                    return {r["k"]: repr(tuple(r[c] for c in cols)) for r in frame.collect()}

                assert key(got) == key(ref), (width, n, cols)

            same(with_global_row_number(df, order, rn="rn"), ["rn"])
            same(with_global_row_number(df, order, rn="rn", total="n"), ["rn", "n"])
            same(with_global_prefix_sum(df, order, "v", out="cv"), ["cv"])
            same(
                with_global_prefix_sum(df, order, "v", out="cv", total="t"),
                ["cv", "t"],
            )
            same(
                with_global_prefix_sums(df, order, ["v", "w"], ["cv", "cw"]),
                ["cv", "cw"],
            )
            same(with_global_prefix_max(df, "k", "d", "pm"), ["pm"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_dau_wau_matches_bruteforce_on_random_activity(spark, tmp_path):
    """Random user-day activity vs a brute-force Python recomputation of
    DAU and trailing-7-day WAU for every emitted day."""
    import datetime as dt
    import random

    rng = random.Random(4242)
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    active = set()
    for uid in range(1, 21):
        for _ in range(rng.randint(1, 10)):
            day = rng.randrange(0, 20)
            eid += 1
            rows.append(
                (eid, base + dt.timedelta(days=day, hours=rng.randrange(24)),
                 uid, "view", 1.0, "{}")
            )
            active.add((uid, day))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "dwrand")
    ev.write.parquet(d + "/events.parquet")
    from big_data_management_and_analytics_spark.operators import timeseries

    out = {
        (r["day"] - base).days: (r["dau"], r["wau"])
        for r in timeseries.events_dau_wau(spark, d).collect()
    }
    max_day = max(day for _, day in active)
    expected = {}
    for day in range(0, max_day + 1):
        dau = len({u for u, dd in active if dd == day})
        wau = len({u for u, dd in active if day - 6 <= dd <= day})
        if wau > 0:
            expected[day] = (dau, wau)
    assert out == expected


def test_attribution_matches_bruteforce_on_random_sessions(spark, tmp_path):
    """Random touch/purchase streams vs a Python recomputation of
    last-touch counts and linear credits (decimal-rounded like the
    operator)."""
    import datetime as dt
    import random
    from collections import defaultdict

    rng = random.Random(777)
    base = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    events = []
    for uid in range(1, 11):
        for _ in range(rng.randint(2, 12)):
            eid += 1
            etype = rng.choice(["view", "click", "purchase"])
            ts = base + dt.timedelta(minutes=rng.randrange(0, 5000))
            rows.append((eid, ts, uid, etype, 1.0, "{}"))
            events.append((uid, ts, eid, etype))
    expected_assists = defaultdict(int)
    expected_last = defaultdict(int)
    expected_credit = defaultdict(float)
    for uid, pts, pid, etype in events:
        if etype != "purchase":
            continue
        touches = [
            (ts, tid, tt)
            for (u, ts, tid, tt) in events
            if u == uid
            and tt in ("view", "click")
            and pts - dt.timedelta(hours=24) <= ts < pts
        ]
        if not touches:
            continue
        n = len(touches)
        last = max(touches)
        for ts, tid, tt in touches:
            expected_assists[tt] += 1
            expected_credit[tt] += round(1.0 / n, 9)
        expected_last[last[2]] += 1
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "attrand")
    ev.write.parquet(d + "/events.parquet")
    from big_data_management_and_analytics_spark.operators import timeseries

    out = {
        r["touch_type"]: r
        for r in timeseries.events_attribution(spark, d).collect()
    }
    assert set(out) == set(expected_assists)
    for tt, r in out.items():
        assert r["n_assists"] == expected_assists[tt], tt
        assert r["n_last_touch"] == expected_last[tt], tt
        assert abs(r["linear_credit"] - expected_credit[tt]) < 1e-6, tt


def test_phash_pairs_match_bruteforce_on_random_docs(spark, tmp_path):
    """The banded equi-join must surface EXACTLY the pairs within the
    hamming threshold: recompute every aHash with independent numpy
    code (block membership via index floor-division, not bincount) and
    compare against the O(n²) scan — clustered duplicates with single
    character flips plus random-text decoys exercise both the
    candidate-generation recall (exact at Hamming <= 7 with 8 bands by
    pigeonhole) and the threshold precision."""
    import random

    import numpy as np

    rng = random.Random(20260814)
    texts = {}
    did = 0
    for _ in range(12):  # clusters of near-identical docs
        base = "".join(rng.choice("abcdefgh ") for _ in range(rng.randrange(64, 400)))
        for _ in range(rng.randrange(1, 4)):
            did += 1
            t = list(base)
            for _ in range(rng.randrange(0, 3)):
                t[rng.randrange(len(t))] = rng.choice("xyz")
            texts[did] = "".join(t)
    for _ in range(15):  # unrelated decoys
        did += 1
        texts[did] = "".join(
            rng.choice("abcdefghijklmnop q") for _ in range(rng.randrange(40, 500))
        )

    def ahash(text: str) -> list[int]:
        b = text.encode()
        h = -(-len(b) // 32)
        raster = np.frombuffer(b + b" " * (h * 32 - len(b)), np.uint8)
        raster = raster.reshape(h, 32).astype(np.int64)
        S, N = int(raster.sum()), raster.size
        bits = []
        for blk in range(64):
            br, bc = divmod(blk, 8)
            rs = [r for r in range(h) if (r * 8) // h == br]
            sub = raster[rs, bc * 4:(bc + 1) * 4]
            s, n = int(sub.sum()), sub.size
            bits.append(1 if s * N > S * n else 0)
        return [
            sum(bits[8 * k + j] << j for j in range(8)) for k in range(8)
        ]

    hashes = {d: ahash(t) for d, t in texts.items()}
    expected = set()
    for a in hashes:
        for b in hashes:
            if a < b:
                ham = sum(
                    bin(x ^ y).count("1")
                    for x, y in zip(hashes[a], hashes[b])
                )
                shares_band = any(
                    x == y for x, y in zip(hashes[a], hashes[b])
                )
                if ham <= 7:
                    assert shares_band  # pigeonhole: <= B-1 diffs, B bands
                    expected.add((a, b, ham))

    docs = spark.createDataFrame(
        [(d, t, "en", "web", len(t)) for d, t in texts.items()],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "phashprop")
    docs.write.parquet(path + "/documents.parquet")
    from big_data_management_and_analytics_spark.functions import multimodal

    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in multimodal.mm_phash_neardup(spark, path).collect()
    }
    assert got == expected


def test_acf_matches_numpy_on_random_series(spark, tmp_path):
    """ts_acf's decimal-moment Pearson must agree with numpy.corrcoef
    on the lagged slices to 6 digits, for a gap-free random series."""
    import random

    import numpy as np

    rng = random.Random(7)
    vals = [round(rng.uniform(1, 500), 2) for _ in range(80)]
    rows = [
        (i + 1, _ts_prop(i), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "acfprop")
    ev.write.parquet(d + "/events.parquet")
    from big_data_management_and_analytics_spark.operators import timeseries

    got = {r["lag"]: r["acf"] for r in timeseries.ts_acf(spark, d).collect()}
    cents_arr = np.array([round(v * 100) for v in vals], dtype=np.float64)
    for lag in (1, 2, 3):
        expect = np.corrcoef(cents_arr[:-lag], cents_arr[lag:])[0, 1]
        assert abs(got[lag] - round(expect, 6)) <= 1e-6


def _ts_prop(i: int):
    import datetime as dt

    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=i, minutes=30)


def test_portable_trig_tracks_libm_over_dense_domain(spark):
    """The Horner polynomials in functions/portable_trig.py must track
    libm over a DENSE domain sweep — 200K equispaced angles across
    [-pi, pi] and 200K asin arguments across [0, 1] — all evaluated in
    one Spark job, replicating the exact expression text the operators
    ship. (The cross-engine BIT-equality claim is pinned by
    test_operators.py::test_portable_trig_bit_identical_across_engines;
    this proves the polynomials are also CORRECT, not merely equal.)"""
    import math

    from big_data_management_and_analytics_spark.functions.portable_trig import (
        asin_text,
        cos_text,
        lit,
        sin_text,
    )

    n = 200_001
    worst = (
        spark.range(n)
        .selectExpr(
            "id AS i",
            f"(id - {n // 2}) * {lit(math.pi / (n // 2))} AS x",
            f"id * {lit(1.0 / (n - 1))} AS y",
        )
        .selectExpr("x", "x * x AS x2", "y", "y * y AS y2",
                    "SQRT((1.0e0 - y) * 5.0e-1) AS z")
        .selectExpr("x", "x2", "y", "y2", "z", "z * z AS z2")
        .selectExpr(
            f"ABS({sin_text('x', 'x2')} - SIN(x)) AS es",
            f"ABS({cos_text('x2')} - COS(x)) AS ec",
            f"ABS({asin_text('y', 'y2', 'z', 'z2')} - ASIN(y)) AS ea",
        )
        .agg(
            F.max("es").alias("es"),
            F.max("ec").alias("ec"),
            F.max("ea").alias("ea"),
        )
        .collect()[0]
    )
    assert worst["es"] < 1e-11
    assert worst["ec"] < 1e-11
    assert worst["ea"] < 1e-11
