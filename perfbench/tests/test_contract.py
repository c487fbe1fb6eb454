"""The benchmark's declared contract (BENCHMARK.json) matches its code."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import verify  # noqa: E402
from workloads import EXPECTED_PATH, WORKLOADS, pass_orders  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def test_end_to_end_metrics_match_the_runner():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert declared == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])


def test_per_layer_metrics_match_the_runner():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert declared == run.PER_LAYER


def test_benchmarked_workloads_exist_and_have_expectations():
    with open(EXPECTED_PATH) as fh:
        expected = json.load(fh)
    for w in BENCHMARK["workloads"]:
        assert w["name"] in WORKLOADS
    for ids in WORKLOADS.values():
        for qid in ids:
            assert set(expected[qid]) == {"rows", "columns", "digest"}


def test_seed_permutes_order_reproducibly():
    a, b, c = pass_orders("etl_sinks", 1), pass_orders("etl_sinks", 1), pass_orders("etl_sinks", 2)
    first = [next(a) for _ in range(4)]
    assert first == [next(b) for _ in range(4)]
    assert first != [next(c) for _ in range(4)]
    assert all(sorted(o) == sorted(WORKLOADS["etl_sinks"]) for o in first)


def test_mismatch_rules():
    import pandas as pd

    canon = verify.load_check_module().canon
    ref = verify.summarize(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}), canon)
    shuffled = verify.summarize(pd.DataFrame({"b": ["y", "x"], "a": [2, 1]}), canon)
    changed = verify.summarize(pd.DataFrame({"a": [1, 3], "b": ["x", "y"]}), canon)
    assert verify.mismatch(shuffled, ref) is None  # order-insensitive
    assert verify.mismatch(changed, ref) == "row digest differs from the oracle's"
    assert verify.mismatch({**ref, "rows": 3}, ref).startswith("rows 3")
    rows_tier = {**ref, "digest": None}
    assert verify.mismatch(changed, rows_tier) is None  # row count only
