import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


def _m(name, acc, kind):
    return {"name": name, "accumulatorId": acc, "metricType": kind}


def _fake_execution():
    """A plan graph shaped like ``planGraph(id).allNodes()`` serialized to
    JSON: the codegen cluster lists its children inside it AND they appear
    again at top level."""
    scan = {
        "id": 5,
        "name": "Scan parquet ",
        "metrics": [
            _m("number of files read", 1, "sum"),
            _m("scan time", 2, "timing"),
            _m("size of files read", 3, "size"),
            _m("number of output rows", 4, "sum"),
        ],
    }
    bhj = {"id": 4, "name": "BroadcastHashJoin", "metrics": [_m("number of output rows", 6, "sum")]}
    nodes = [
        {"id": 0, "name": "OverwriteByExpression", "metrics": []},
        {"id": 1, "name": "Exchange", "metrics": [_m("shuffle records written", 7, "sum")]},
        {"id": 2, "name": "BroadcastExchange", "metrics": [_m("number of output rows", 8, "sum")]},
        {"id": 3, "name": "ReusedExchange", "metrics": []},
        bhj,
        scan,
        {"id": 9, "name": "WholeStageCodegen (1)", "nodes": [bhj, scan], "metrics": [_m("duration", 9, "timing")]},
        {"id": 10, "name": "SortMergeJoin", "metrics": [_m("number of output rows", 10, "sum")]},
        {"id": 11, "name": "BroadcastNestedLoopJoin", "metrics": []},
        {
            "id": 12,
            "name": "ArrowEvalPython",
            "metrics": [
                _m("data sent to Python workers", 12, "size"),
                _m("data returned from Python workers", 13, "size"),
                _m("time to run Python workers", 14, "timing"),
                _m("time to start Python workers", 15, "timing"),
                _m("time to initialize Python workers", 16, "timing"),
                _m("number of output rows", 17, "sum"),
            ],
        },
        {
            "id": 13,
            "name": "Execute InsertIntoHadoopFsRelationCommand",
            "metrics": [_m("number of written files", 18, "sum"), _m("number of output rows", 19, "sum")],
        },
        # A metric the store has no value for yet must be ignored, and so
        # must metric types the fold does not read.
        {"id": 14, "name": "Filter", "metrics": [_m("number of output rows", 99, "sum")]},
        {
            "id": 15,
            "name": "HashAggregate",
            "metrics": [_m("avg hash probes per key", 20, "average"), _m("number of output rows", 21, "sum")],
        },
    ]
    metrics = {
        "1": "2",
        "2": "total (min, med, max (stageId: taskId))\n183 ms (15 ms, 23 ms, 36 ms (stage 21.0: task 29))",
        "3": "1018.0 KiB",
        "4": "60,000",
        "6": "7,749",
        "7": "175",
        "8": "25",
        "9": "1.2 s",
        "10": "10",
        "12": "2.5 MiB",
        "13": "19.6 KiB",
        "14": "1.9 s",
        "15": "1.2 s",
        "16": "691 ms",
        "17": "2,495",
        "18": "8",
        "19": "1,500",
        "20": "(min, med, max (stageId: taskId))\n(1, 1, 1 (stage 3.0: task 7))",
        "21": "40",
    }
    stages = [
        {"shuffleWriteRecords": 175, "shuffleWriteBytes": 6746, "inputBytes": 5893,
         "memoryBytesSpilled": 10, "diskBytesSpilled": 5, "outputBytes": 0, "outputRecords": 0},
        {"shuffleWriteRecords": 0, "shuffleWriteBytes": 0, "inputBytes": 3555,
         "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "outputBytes": 248325, "outputRecords": 1500},
    ]
    return {"jobs": [{"id": 1}, {"id": 2}, {"id": 3}], "nodes": nodes, "metrics": metrics, "stages": stages}


@pytest.mark.parametrize(
    "text,kind,want",
    [
        ("7,749", "sum", 7749),
        ("0", "sum", 0),
        ("6.6 KiB", "size", 6.6 * 1024),
        ("0.0 B", "size", 0),
        ("2.5 MiB", "size", 2.5 * 1024 * 1024),
        ("15 ms", "timing", 0.015),
        ("1.2 s", "timing", 1.2),
        ("1.5 m", "timing", 90.0),
        ("22 ms", "nsTiming", 0.022),
        ("total (min, med, max (stageId: taskId))\n3.1 KiB (395.0 B, 396.0 B, 396.0 B (stage 21.0: task 28))",
         "size", 3.1 * 1024),
    ],
)
def test_parse_metric(text, kind, want):
    assert layers.parse_metric(text, kind) == pytest.approx(want)


def test_parse_metric_rejects_unread_types():
    with pytest.raises(ValueError):
        layers.parse_metric("(min, med, max (stageId: taskId))\n(1, 1, 1 (stage 3.0: task 7))", "average")


def test_fold_execution_counts_nodes_once():
    c = layers.fold_execution(_fake_execution())
    assert c["operators.jobs"] == 3
    assert c["operators.exchanges"] == 2  # ReusedExchange moves no data
    assert c["operators.bhj"] == 1  # listed twice (inside the cluster), counted once
    assert c["operators.smj"] == 1
    assert c["operators.bnlj"] == 1
    # 60,000 scan + 7,749 join + 25 broadcast + 10 smj + 2,495 python
    # + 1,500 written + 40 aggregated
    assert c["operators.rows_out"] == 60000 + 7749 + 25 + 10 + 2495 + 1500 + 40


def test_fold_execution_sources_and_functions():
    c = layers.fold_execution(_fake_execution())
    assert c["sources.files_read"] == 2
    assert c["sources.scan_rows"] == 60000
    assert c["sources.scan_s"] == pytest.approx(0.183)
    assert c["sources.files_written"] == 8
    assert c["functions.py_rows"] == 2495
    assert c["functions.py_bytes_sent"] == pytest.approx(2.5 * 1024 * 1024)
    assert c["functions.py_bytes_returned"] == pytest.approx(19.6 * 1024)
    assert c["functions.py_run_s"] == pytest.approx(1.9)
    assert c["functions.py_start_s"] == pytest.approx(1.2)
    assert c["functions.py_init_s"] == pytest.approx(0.691)


def test_fold_execution_stage_counters_are_exact():
    c = layers.fold_execution(_fake_execution())
    assert c["operators.shuffle_records"] == 175
    assert c["operators.shuffle_bytes"] == 6746
    assert c["operators.spill_bytes"] == 15
    assert c["sources.bytes_read"] == 5893 + 3555
    assert c["sources.bytes_written"] == 248325
    assert c["sources.rows_written"] == 1500


def test_fold_pass_sums_executions_and_reports_every_counter():
    one = layers.fold_execution(_fake_execution())
    empty = {"jobs": [], "nodes": [], "metrics": {}, "stages": []}
    folded = layers.fold_pass([_fake_execution(), _fake_execution(), empty])
    assert set(folded) == set(layers.EXECUTION_COUNTERS)
    for key in layers.EXECUTION_COUNTERS:
        assert folded[key] == pytest.approx(2 * one[key])
    assert layers.fold_pass([]) == {key: 0.0 for key in layers.EXECUTION_COUNTERS}


def test_owner_assigns_each_execution_to_the_phase_it_started_in():
    phases = [(1000, "a/build"), (1500, "a/exec"), (2000, "b/build"), (2300, "b/exec")]
    assert layers.owner(phases, 1000) == "a/build"
    assert layers.owner(phases, 1499) == "a/build"
    assert layers.owner(phases, 1500) == "a/exec"
    assert layers.owner(phases, 2299) == "b/build"
    assert layers.owner(phases, 9999) == "b/exec"
    assert layers.owner(phases, 10) == "a/build"


def test_tree_cpu_covers_this_process():
    assert layers.tree_cpu_s(os.getpid()) > 0
