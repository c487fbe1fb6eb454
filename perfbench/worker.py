"""One benchmark process: set up a session, then run the workload's passes.

Started by ``run.py``, once per set-up probe (``--setup-only``) and once for
the measured run. It drives the engine only through its public functions:
``get_spark``, ``load_all``/``all_queries``, each registry ``fn(spark,
sf_dir)`` and a ``noop`` write of the DataFrame it returns. The result goes
to ``--out`` as JSON.

Protocol of a measured run, one client and one query at a time:

1. cold pass: every id once in the fresh session (codegen, cold JIT), each
   result collected to the driver as a one-shot batch job would. The time
   is the sum of the ids' build + collect spans; each collected result is
   then checked against ``expected.json``, outside those spans.
2. timed passes: every id built and written to the ``noop`` sink, repeated
   until ``--seconds`` have elapsed and at least ``MIN_TIMED_PASSES`` ran.
   With ``--trace 1`` the timed passes come in pairs, one traced and one
   not, alternating which goes first; a traced pass is read back from the
   status store after it ends, so tracing adds little inside the pass.

The warm pass times keep falling for several passes as the JIT converges,
so the protocol is fixed: compare runs of it only with runs of it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402
from workloads import DATA_DIR, EXPECTED_PATH, WORKLOADS, pass_orders  # noqa: E402

MIN_TIMED_PASSES = 2


class Tracer:
    """In-memory spans: a pass, its ids, their build/exec phases, and the
    SQL executions and jobs the status store recorded inside them."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                **({"attrs": attrs} if attrs else {}),
            }
        )
        return len(self.spans) - 1


class Runner:
    def __init__(self, spark, fns: dict, tracer: Tracer | None) -> None:
        self.spark = spark
        self.fns = fns
        self.tracer = tracer
        self.store = layers.StatusStore(spark) if tracer else None
        self.cores = len(os.sched_getaffinity(0))
        self.attempted: dict[str, int] = {i: 0 for i in fns}
        self.raised: dict[str, int] = {i: 0 for i in fns}

    def run_id(self, qid: str, collect: bool):
        """Build one id and execute it (noop write, or collect to pandas).

        Returns the id's span record and the collected frame (None unless
        collecting); an exception is logged and counted as a failure.
        """
        self.attempted[qid] += 1
        rec = {"start": time.time()}
        pdf = None
        t0 = t1 = time.perf_counter()
        try:
            df = self.fns[qid](self.spark, DATA_DIR)
            t1 = time.perf_counter()
            if collect:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception:
            self.raised[qid] += 1
            print(f"perfbench: {qid} raised", file=sys.stderr)
            traceback.print_exc()
        rec["build_s"], rec["exec_s"] = t1 - t0, time.perf_counter() - t1
        return rec, pdf

    def run_pass(self, order, traced: bool = False, on_result=None) -> dict:
        """One pass over ``order``. ``on_result(qid, pdf)``, when given,
        makes the pass collect each result and receives it outside the
        timed span."""
        if traced:
            self.store.skip_existing()
            gc0, cpu0 = self.store.gc_s(), layers.tree_cpu_s(os.getpid())
            compiles0, _ = self.store.codegen()
        ids = {}
        for qid in order:
            ids[qid], pdf = self.run_id(qid, collect=on_result is not None)
            if on_result:
                on_result(qid, pdf)
        start = ids[order[0]]["start"]
        wall = sum(r["build_s"] + r["exec_s"] for r in ids.values())
        out = {"wall": wall, "ids": ids}
        if traced:
            gc1, cpu1 = self.store.gc_s(), layers.tree_cpu_s(os.getpid())
            compiles1, _ = self.store.codegen()
            executions = self.store.new_executions()
            out["layers"] = self._layers(start, wall, ids, executions)
            out["layers"]["operators.gc_s"] = gc1 - gc0
            out["layers"]["operators.core_util"] = (cpu1 - cpu0) / (wall * self.cores)
            out["layers"]["operators.codegen_compiles_warm"] = float(compiles1 - compiles0)
        return out

    def _layers(self, start: float, wall: float, ids: dict, executions: list[dict]) -> dict:
        """Assign each execution to the build or exec phase it started in
        and fold the pass's counters; records the spans on the way."""
        tr = self.tracer
        pass_span = tr.add("pass", start, start + wall)
        phases = []  # (start ms, (qid, phase, span id)), in time order
        for qid, rec in ids.items():
            b0, b1 = rec["start"], rec["start"] + rec["build_s"]
            id_span = tr.add(qid, b0, b1 + rec["exec_s"], pass_span)
            phases.append((int(b0 * 1000), (qid, "build", tr.add("build", b0, b1, id_span))))
            phases.append((int(b1 * 1000), (qid, "exec", tr.add("exec", b1, b1 + rec["exec_s"], id_span))))
        per_id = {qid: {"executions": 0, "eager": 0, "eager_s": 0.0} for qid in ids}
        exec_spans = {}
        for ex in executions:
            qid, phase, span = layers.owner(phases, ex["start_ms"])
            end_ms = ex["end_ms"] if ex["end_ms"] is not None else ex["start_ms"]
            # A command's nested executions (saveAsTable's insert, ...) lie
            # inside their root's span: nest them there, count their time once.
            nested = ex["root_id"] != ex["id"] and ex["root_id"] in exec_spans
            exec_spans[ex["id"]] = tr.add(
                "sql_execution",
                ex["start_ms"] / 1e3,
                end_ms / 1e3,
                exec_spans[ex["root_id"]] if nested else span,
                execution_id=ex["id"],
            )
            for job in ex["jobs"]:
                if job["start_ms"] is not None and job["end_ms"] is not None:
                    tr.add("job", job["start_ms"] / 1e3, job["end_ms"] / 1e3, exec_spans[ex["id"]], job_id=job["id"])
            per_id[qid]["executions"] += 1
            if phase == "build":
                per_id[qid]["eager"] += 1
                if not nested:
                    per_id[qid]["eager_s"] += (end_ms - ex["start_ms"]) / 1e3
        out = layers.fold_pass(executions)
        out["build.eager_executions"] = float(sum(p["eager"] for p in per_id.values()))
        out["build.eager_s"] = sum(p["eager_s"] for p in per_id.values())
        out["build.self_s"] = sum(r["build_s"] for r in ids.values()) - out["build.eager_s"]
        out["operators.exec_s"] = sum(r["exec_s"] for r in ids.values())
        for qid, rec in ids.items():
            out[f"{qid}.build_s"] = rec["build_s"]
            out[f"{qid}.exec_s"] = rec["exec_s"]
            out[f"{qid}.executions"] = float(per_id[qid]["executions"])
        return out


def setup(spawned: float, ids) -> tuple:
    """Session + registry. ``spawned`` is the monotonic clock (system-wide
    on Linux) read by the parent just before it started this process."""
    from big_data_management_and_analytics_spark.sources.session import get_spark

    import big_data_management_and_analytics_spark as engine

    t0 = time.monotonic()
    spark = get_spark("perfbench")
    t1 = time.monotonic()
    engine.load_all()
    registry = engine.all_queries()
    fns = {qid: registry[qid].fn for qid in ids}
    t2 = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, fns, {
        "setup_s": t2 - spawned,
        "session.start_s": t1 - t0,
        "session.registry_s": t2 - t1,
    }


def measure(spark, fns: dict, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    with open(EXPECTED_PATH) as fh:
        expected = json.load(fh)
    canon = verify.load_check_module().canon
    tracer = Tracer() if trace else None
    runner = Runner(spark, fns, tracer)
    orders = pass_orders(workload, seed)

    verdicts = {}

    def check(qid, pdf):
        got = verify.summarize(pdf, canon) if pdf is not None else None
        verdicts[qid] = verify.mismatch(got, expected[qid]) if got else "raised"
        if verdicts[qid]:
            print(f"perfbench: {qid} output check failed: {verdicts[qid]}", file=sys.stderr)

    compiles0, compile_s0 = runner.store.codegen() if trace else (0, 0.0)
    cold = runner.run_pass(next(orders), on_result=check)
    out = {"cold_pass_s": cold["wall"]}
    if trace:
        compiles1, compile_s1 = runner.store.codegen()
        out["operators.codegen_compiles"] = float(compiles1 - compiles0)
        out["operators.codegen_compile_s"] = compile_s1 - compile_s0

    timed: list[dict] = []
    untraced: list[dict] = []
    # Traced runs take two pairs, traced/untraced then untraced/traced, so
    # the warm-up trend of the pass times cancels out of trace.overhead_s.
    min_passes = 2 * MIN_TIMED_PASSES if trace else MIN_TIMED_PASSES
    t0 = time.perf_counter()
    while len(timed) + len(untraced) < min_passes or time.perf_counter() - t0 < seconds:
        if not trace:
            timed.append(runner.run_pass(next(orders)))
            continue
        traced_first = len(timed) % 2 == 0
        for traced in (traced_first, not traced_first):
            (timed if traced else untraced).append(runner.run_pass(next(orders), traced))

    lat = {qid: [p["ids"][qid]["build_s"] + p["ids"][qid]["exec_s"] for p in timed] for qid in fns}
    attempted = sum(runner.attempted.values())
    # A mismatching id fails every execution of it; otherwise only raises fail.
    failed = sum(runner.attempted[q] if verdicts[q] else runner.raised[q] for q in fns)
    out.update(
        warm_pass_s=stats.median(p["wall"] for p in timed),
        query_geomean_s=stats.query_geomean(lat),
        ok_frac=stats.ok_frac(attempted, failed),
        attempted=attempted,
        failed=failed,
        timed_passes=len(timed),
        pass_walls=[p["wall"] for p in timed],
        per_id_median_s={q: stats.median(v) for q, v in lat.items()},
        mismatches={q: v for q, v in verdicts.items() if v},
    )
    if trace:
        for key in timed[0]["layers"]:
            out[key] = stats.median(p["layers"][key] for p in timed)
        out["trace.overhead_s"] = out["warm_pass_s"] - stats.median(p["wall"] for p in untraced)
        out["spans"] = tracer.spans
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spark, fns, result = setup(args.spawned, WORKLOADS[args.workload])
    try:
        if not args.setup_only:
            result.update(
                measure(spark, fns, args.workload, args.seed, args.seconds, bool(args.trace))
            )
    finally:
        spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
