"""Per-layer counters, read from outside the engine.

Sources, all reachable over py4j from a plain PySpark session:

- the SQL status store (``sharedState().statusStore()``): one record per SQL
  execution with its jobs, stages and final (post-AQE) plan graph, plus the
  rendered value of every plan-node metric;
- the core status store (``sc.statusStore()``): exact per-stage I/O, shuffle
  and spill byte/record counts;
- ``CodegenMetrics`` for whole-stage-codegen compiles, the JVM's GC beans,
  and ``/proc`` CPU time of the driver's process tree.

``fold_execution`` is pure (plain dicts in, counters out) so tests can feed
it a fake plan graph; ``StatusStore`` is the thin py4j reader in front of it.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

# Layer counters summed over the SQL executions of a pass.
EXECUTION_COUNTERS = (
    "operators.jobs",
    "operators.exchanges",
    "operators.bhj",
    "operators.smj",
    "operators.bnlj",
    "operators.shuffle_records",
    "operators.shuffle_bytes",
    "operators.spill_bytes",
    "operators.rows_out",
    "sources.files_read",
    "sources.bytes_read",
    "sources.scan_rows",
    "sources.scan_s",
    "sources.files_written",
    "sources.bytes_written",
    "sources.rows_written",
    "functions.py_bytes_sent",
    "functions.py_bytes_returned",
    "functions.py_rows",
    "functions.py_run_s",
    "functions.py_start_s",
    "functions.py_init_s",
)

_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# Metric types parse_metric reads; "average" (hash probes per key) is not used.
_PARSED_TYPES = {"sum", "size", "timing", "nsTiming"}

# Physical node names counted as data movement and as join strategies.
# ReusedExchange is left out on purpose: it moves no data.
_EXCHANGES = {"Exchange", "BroadcastExchange"}
_JOINS = {
    "BroadcastHashJoin": "operators.bhj",
    "SortMergeJoin": "operators.smj",
    "BroadcastNestedLoopJoin": "operators.bnlj",
}
# Python-boundary metrics (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...).
_PY_METRICS = {
    "data sent to Python workers": "functions.py_bytes_sent",
    "data returned from Python workers": "functions.py_bytes_returned",
    "time to run Python workers": "functions.py_run_s",
    "time to start Python workers": "functions.py_start_s",
    "time to initialize Python workers": "functions.py_init_s",
}
_STAGE_FIELDS = {
    "shuffleWriteRecords": "operators.shuffle_records",
    "shuffleWriteBytes": "operators.shuffle_bytes",
    "memoryBytesSpilled": "operators.spill_bytes",
    "diskBytesSpilled": "operators.spill_bytes",
    "inputBytes": "sources.bytes_read",
    "outputBytes": "sources.bytes_written",
    "outputRecords": "sources.rows_written",
}


def parse_metric(text: str, kind: str) -> float:
    """Parse one rendered SQL metric value back into a number.

    Spark renders a metric updated by one task as the bare value and one
    updated by several as ``"total (min, med, max ...)\\n<total> (...)"``.
    Sums are exact (``"7,749"``); sizes and timings keep Spark's rounding
    (``"6.6 KiB"``, ``"1.2 s"``), returned in bytes and seconds.
    """
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip()
    if kind == "size":
        num, unit = text.split()
        return float(num) * _SIZE_UNITS[unit]
    if kind in ("timing", "nsTiming"):
        num, unit = text.split()
        return float(num) * _TIME_UNITS[unit]
    if kind == "sum":
        return float(text.replace(",", ""))
    raise ValueError(f"unsupported metric type {kind!r}")


def _unique_nodes(nodes: list[dict]) -> list[dict]:
    """``allNodes`` lists a codegen cluster's children both inside the
    cluster and at top level; keep each node id once."""
    seen: set[int] = set()
    out = []
    for node in nodes:
        if node["id"] not in seen:
            seen.add(node["id"])
            out.append(node)
    return out


def fold_execution(execution: dict) -> Counter:
    """Fold one SQL execution record into layer counters.

    ``execution`` holds ``jobs`` (list), ``nodes`` (plan-graph nodes, each
    with ``id``, ``name`` and ``metrics`` = [{name, accumulatorId,
    metricType}]), ``metrics`` (accumulator id as str -> rendered value) and
    ``stages`` (status-store stage records).
    """
    c: Counter = Counter()
    c["operators.jobs"] += len(execution["jobs"])
    values = execution["metrics"]
    for node in _unique_nodes(execution["nodes"]):
        name = node["name"]
        m = {}
        for pm in node["metrics"]:
            raw = values.get(str(pm["accumulatorId"]))
            if raw is not None and pm["metricType"] in _PARSED_TYPES:
                m[pm["name"]] = parse_metric(raw, pm["metricType"])
        if name in _EXCHANGES:
            c["operators.exchanges"] += 1
        if name in _JOINS:
            c[_JOINS[name]] += 1
        rows = m.get("number of output rows", 0)
        c["operators.rows_out"] += rows
        if "number of files read" in m:
            c["sources.files_read"] += m["number of files read"]
            c["sources.scan_rows"] += rows
            c["sources.scan_s"] += m.get("scan time", 0)
        c["sources.files_written"] += m.get("number of written files", 0)
        if "data sent to Python workers" in m:
            c["functions.py_rows"] += rows
            for metric, key in _PY_METRICS.items():
                c[key] += m.get(metric, 0)
    for stage in execution["stages"]:
        for field, key in _STAGE_FIELDS.items():
            c[key] += stage.get(field, 0)
    return c


def fold_pass(executions: list[dict]) -> dict[str, float]:
    """Sum the counters of every execution of one pass; every key present."""
    total: Counter = Counter()
    for execution in executions:
        total.update(fold_execution(execution))
    return {key: float(total[key]) for key in EXECUTION_COUNTERS}


def owner(phases: list[tuple[int, object]], start_ms: int):
    """The phase an execution started in: the last of ``phases`` (start ms,
    key; in time order) that began at or before ``start_ms``. Both clocks
    are the wall clock, Python's in seconds and the JVM's in ms."""
    i = bisect.bisect_right([p[0] for p in phases], start_ms)
    return phases[max(i - 1, 0)][1]


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and all its live descendants,
    including the children each of them has already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        # Field 2 (comm) may hold spaces; the rest follows the last ')'.
        fields = stat.rsplit(")", 1)[1].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(ticks.get(pid, 0) for pid in tree) / tick


# How long an execution is re-read while its completion time is unset.
_SETTLE_S = 2.0


class StatusStore:
    """py4j reader for the SQL and core status stores of one session."""

    def __init__(self, spark):
        jvm = spark._jvm
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._compile_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module)
        self.next_id = 0  # first execution id not yet handed out by new_executions()

    def _to_py(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def drain(self) -> None:
        """Block until every listener event posted so far is processed."""
        self._bus.waitUntilEmpty()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, their total seconds).

        The time is summed from the histogram's reservoir, exact while the
        process has done at most 1028 compiles (the reservoir size).
        """
        values = self._to_py(self._compile_hist.getSnapshot().getValues())
        return int(self._compile_hist.getCount()), sum(values) / 1e3

    def skip_existing(self) -> None:
        """Mark every execution recorded so far as already seen."""
        self.drain()
        n = self._sql.executionsCount()
        if n:  # the store lists executions by ascending id
            self.next_id = self._sql.executionsList(n - 1, 1).head().executionId() + 1

    def new_executions(self) -> list[dict]:
        """Records of the executions started since the last call.

        Execution ids are contiguous per application. A job-end event can
        trail the action's return, so an execution is re-read briefly until
        its completion time is set.
        """
        self.drain()
        out = []
        while True:
            opt = self._sql.execution(self.next_id)
            if not opt.isDefined():
                return out
            eid = self.next_id
            info = self._to_py(opt.get())
            deadline = time.monotonic() + _SETTLE_S
            while info.get("completionTime") is None and time.monotonic() < deadline:
                time.sleep(0.02)
                self.drain()
                info = self._to_py(self._sql.execution(eid).get())
            out.append(self._read(eid, info))
            self.next_id += 1

    def _read(self, eid: int, info: dict) -> dict:
        stages = []
        for sid in info["stages"]:
            try:
                stages.append(self._to_py(self._app.lastStageAttempt(sid)))
            except Py4JJavaError:  # never submitted (a stage AQE skipped)
                continue
        jobs = []
        for jid in info["jobs"]:
            try:
                job = self._to_py(self._app.job(int(jid)))
            except Py4JJavaError:  # already evicted; keep it in the count
                job = {}
            jobs.append(
                {
                    "id": int(jid),
                    "start_ms": job.get("submissionTime"),
                    "end_ms": job.get("completionTime"),
                }
            )
        return {
            "id": eid,
            "root_id": info.get("rootExecutionId", eid),
            "start_ms": info["submissionTime"],
            "end_ms": info.get("completionTime"),
            "jobs": jobs,
            "nodes": self._to_py(self._sql.planGraph(eid).allNodes()),
            "metrics": self._to_py(self._sql.executionMetrics(eid)),
            "stages": stages,
        }
