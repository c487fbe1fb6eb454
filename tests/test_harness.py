"""Harness fidelity tests for tools/check.py (round 8) and tools/profile_ids.py.

Round 7's one driver failure (``events_feature_vector``) was not a wrong
answer — it was the LOCAL harness serializing an array-typed output cell
that the driver's canonicalizer crashes on, so a driver-undeliverable
schema passed 428/428 locally. These tests pin that the rehearsal now
fails wherever the driver would fail (VERDICT r7 item 2), plus the
ADVICE r7 hardening of duck_con's hive detection and path quoting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMALL, load_tool

# Count-type layer counters: for a fixed plan and fixed data they are
# deterministic (the benchmark's per-layer "count" metrics).
_COUNTS = (
    "operators.jobs",
    "operators.exchanges",
    "operators.bhj",
    "operators.smj",
    "operators.bnlj",
    "operators.shuffle_records",
    "operators.rows_out",
    "sources.files_read",
    "sources.scan_rows",
    "sources.files_written",
    "sources.rows_written",
    "functions.py_rows",
)


@pytest.fixture(scope="module")
def check_mod():
    return load_tool("check")


def test_complex_cols_detects_every_unhashable_kind(check_mod):
    df = pd.DataFrame(
        {
            "ok_int": [1, 2],
            "ok_str": ["a", "b"],
            "arr": [np.array([1.0]), np.array([2.0])],
            "lst": [[1], [2]],
            "dct": [{"k": 1}, {"k": 2}],
        }
    )
    assert check_mod._complex_cols(df) == ["arr", "lst", "dct"]
    assert check_mod._complex_cols(df[["ok_int", "ok_str"]]) == []


def test_complex_cols_skips_leading_nulls(check_mod):
    """The first-non-null short-circuit (ADVICE r8: don't scan millions
    of clean string cells) must still look PAST leading nulls — a
    nullable array column whose first row is None is still complex."""
    df = pd.DataFrame(
        {
            "lead_null_arr": [None, np.array([1.0])],
            "lead_nan_lst": [float("nan"), [1]],
            "all_null": [None, None],
            "lead_null_str": [None, "x"],
        }
    )
    assert check_mod._complex_cols(df) == ["lead_null_arr", "lead_nan_lst"]


def test_compare_rejects_driver_undeliverable_output(check_mod):
    """An array-typed spark-side cell is an outright FAIL even when the
    serialized values would match — bit-faithful to the driver, which
    records such a query as an error, not a pass."""
    spark_pd = pd.DataFrame({"id": [1], "features": [np.array([1.0, 2.0])]})
    duck_pd = pd.DataFrame({"id": [1], "features": [[1.0, 2.0]]})
    issues = check_mod.compare("t", spark_pd, duck_pd)
    assert issues
    assert any("driver-undeliverable" in i for i in issues)


def test_compare_scalar_columns_still_pass(check_mod):
    a = pd.DataFrame({"id": [2, 1], "v": [2.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 2.5], "id": [1, 2]})
    assert check_mod.compare("t", a, b) == []


def test_duck_con_stray_eq_file_does_not_misroute_to_hive(check_mod, tmp_path):
    """A flat multi-file directory containing a stray FILE with '=' in its
    name (e.g. a tool's scratch note) must still register as flat — hive
    mode requires an actual {col}={val} directory."""
    sf = tmp_path / "sf"
    for t in check_mod.TABLES:
        d = sf / f"{t}.parquet"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"x": [1, 2]}), d / "part-0.parquet")
    (sf / "region.parquet" / "note=tmp.txt").write_text("scratch")
    con = check_mod.duck_con(str(sf))
    # Flat read: exactly the part-file rows, no hive partition column.
    df = con.execute("SELECT * FROM region").df()
    assert list(df.columns) == ["x"] and len(df) == 2


def test_duck_con_hive_partition_value_stays_string(check_mod, tmp_path):
    """Digit-only hive partition values (lang=001) must keep the string
    type: Spark's load() enforces the declared schema, so DuckDB
    autocasting the partition column numeric would silently diverge the
    oracle side (ADVICE r7)."""
    sf = tmp_path / "sf"
    for t in check_mod.TABLES:
        d = sf / f"{t}.parquet" / "lang=001"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"x": [1]}), d / "part-0.parquet")
    con = check_mod.duck_con(str(sf))
    df = con.execute("SELECT lang FROM nation").df()
    assert df["lang"].tolist() == ["001"]
    assert df["lang"].dtype.kind == "O"


def test_duck_con_path_with_quote(check_mod, tmp_path):
    sf = tmp_path / "it's data"
    sf.mkdir()
    for t in check_mod.TABLES:
        pq.write_table(pa.table({"x": [7]}), sf / f"{t}.parquet")
    con = check_mod.duck_con(str(sf))
    assert con.execute("SELECT x FROM orders").df()["x"].tolist() == [7]


def test_sweep_rows_tier_needs_a_row(check_mod, spark, capsys):
    """A rows-tier id (no oracle) passes only with at least one row: the
    driver records ``no_oracle`` with ``spark_rows == 0`` as red
    (``plans/driver_history.py::_green``), so the local sweep must too."""
    fns = {"empty": lambda s, sf: s.range(0), "one": lambda s, sf: s.range(1)}
    assert check_mod.sweep(spark, fns, {}, ["empty"], SF_SMALL) == (0, 1, 0)
    assert check_mod.sweep(spark, fns, {}, ["one"], SF_SMALL) == (0, 0, 1)
    out = capsys.readouterr().out
    assert "FAIL  empty: 0 rows" in out
    assert "ROWS  one: 1 rows" in out


def test_profile_counters_plans_and_errors(spark, registry, tmp_path):
    """Two profiles of the same ids in one session give identical work
    counters; an id's counters are the sum of its executions' folds, each
    carrying its final physical plan; an id that raises is recorded with
    its error and the ids after it are still profiled."""
    import json

    profile_ids = load_tool("profile_ids")

    def broken(spark, sf):
        raise ValueError("no such table")

    ids = ("join_star_5way", "src_csv_roundtrip")
    fns = {ids[0]: registry[ids[0]].fn, "broken": broken, ids[1]: registry[ids[1]].fn}
    runs = [
        profile_ids.profile(spark, fns, SF_SMALL, str(tmp_path / str(k)))
        for k in range(2)
    ]
    for qid in ids:
        first, second = (run[qid] for run in runs)
        assert first["error"] is None
        assert first["executions"]
        assert {k: first["counters"][k] for k in _COUNTS} == {
            k: second["counters"][k] for k in _COUNTS
        }
        for key, total in first["counters"].items():
            parts = sum(ex["counters"].get(key, 0) for ex in first["executions"])
            assert parts == pytest.approx(total), key
        for ex in first["executions"]:
            assert ex["plan"].startswith("== Physical Plan ==")
    assert runs[0]["join_star_5way"]["counters"]["operators.bhj"] > 0
    assert runs[0]["src_csv_roundtrip"]["counters"]["sources.files_written"] > 0
    with open(tmp_path / "0" / "broken.json") as fh:
        assert json.load(fh)["error"] == "ValueError: no such table"


def test_profile_records_jobs_outside_sql(spark, tmp_path):
    """An untyped parquet read infers its schema in a job that belongs to
    no SQL execution; the profile records it, and a read given the schema
    starts none."""
    profile_ids = load_tool("profile_ids")
    src = str(tmp_path / "t")
    spark.range(10).write.parquet(src)
    fns = {
        "inferred": lambda s, sf: s.read.parquet(src),
        "given": lambda s, sf: s.read.schema("id BIGINT").parquet(src),
    }
    runs = profile_ids.profile(spark, fns, SF_SMALL, str(tmp_path / "out"))
    inferred = runs["inferred"]["outside_jobs"]
    assert inferred["count"] == 1
    assert inferred["jobs"][0]["name"].startswith("parquet at ")
    assert inferred["jobs"][0]["duration_s"] >= 0
    assert runs["given"]["outside_jobs"] == {"count": 0, "jobs": []}
