#!/usr/bin/env python
"""Per-id profile: wall time, layer counters and executed plans.

Runs each id's build plus a ``noop`` write in one session and reads the
SQL executions that span started back from Spark's status stores, through
the same reader and fold as the benchmark (``perfbench/layers.py``). One
JSON per id goes to ``--out``:

- ``wall_s``: build + noop write, a cold single run;
- ``error``: the exception text, or null;
- ``counters``: ``layers.fold_pass`` over the id's executions (exchanges,
  join strategies, shuffle, scan and write counters, Python-boundary bytes);
- ``executions``: per SQL execution, its folded counters and its final
  (post-AQE) physical plan;
- ``outside_jobs``: the Spark jobs that ran during the id's span outside
  every SQL execution, read from the core status store (count, and each
  job's name and duration). Schema inference of an untyped read and
  parallel file listing run there, where no execution counter sees them.

The slowest ids are printed last. Read them for order-of-magnitude outliers
against their family's band, not for regressions in the noise band: round
6 found ``llm_ngram_novelty`` running its gram expression inside the
single-file scan task (33.6 s, 25x after the fix) this way.

Usage: python tools/profile_ids.py [--sf DIR] [--out DIR] [id ...]

Defaults: the sf0.1 fixtures, ``profiles/`` at the repository root, and
every registered id but ``SKIP``.

The file is not named ``profile.py``: run as a script, a file of that name
in tools/ would shadow the stdlib ``profile`` module, which pyspark imports
through cProfile.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

# Multi-trigger streaming demo — minutes by design, exercised in pytest.
SKIP = {"stream_output_modes"}
SLOWEST = 30


class PlanStore(layers.StatusStore):
    """Status-store reader whose records also carry the formatted final plan,
    and which also reads the jobs no SQL execution started."""

    def _read(self, eid: int, info: dict) -> dict:
        return {**super()._read(eid, info), "plan": info["physicalPlanDescription"]}

    def skip_existing(self) -> None:
        super().skip_existing()
        jobs = self._app.jobsList(None)  # newest first
        self.next_job = jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    def outside_jobs(self, executions: list[dict]) -> dict:
        """The jobs started since ``skip_existing`` that belong to none of
        ``executions`` (job ids are contiguous per application)."""
        inside = {job["id"] for ex in executions for job in ex["jobs"]}
        jobs = []
        while True:
            try:
                job = self._to_py(self._app.job(self.next_job))
            except Py4JJavaError:
                break
            if job["jobId"] not in inside:
                end = job.get("completionTime")
                jobs.append(
                    {
                        "name": job["name"],
                        "duration_s": (end - job["submissionTime"]) / 1e3
                        if end is not None
                        else None,
                    }
                )
            self.next_job += 1
        return {"count": len(jobs), "jobs": jobs}


def profile(spark, fns: dict, sf: str, out_dir: str) -> dict[str, dict]:
    """Profile each ``fns`` id (id -> ``fn(spark, sf)``) in order; write
    ``<out_dir>/<id>.json`` and return the records by id. An id that raises
    is recorded with its error and the sweep goes on."""
    os.makedirs(out_dir, exist_ok=True)
    store = PlanStore(spark)
    records = {}
    for name, fn in fns.items():
        store.skip_existing()
        error = None
        t0 = time.perf_counter()
        try:
            fn(spark, sf).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            error = f"{type(exc).__name__}: {exc}"
            print(f"ERROR  {name}: {exc}", flush=True)
        wall = time.perf_counter() - t0
        executions = store.new_executions()
        records[name] = {
            "wall_s": wall,
            "error": error,
            "counters": layers.fold_pass(executions),
            "executions": [
                {
                    "id": ex["id"],
                    "root_id": ex["root_id"],
                    "counters": dict(layers.fold_execution(ex)),
                    "plan": ex["plan"],
                }
                for ex in executions
            ],
            "outside_jobs": store.outside_jobs(executions),
        }
        with open(os.path.join(out_dir, f"{name}.json"), "w") as fh:
            json.dump(records[name], fh, indent=1)
    return records


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(ROOT, "profiles"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import big_data_management_and_analytics_spark as engine
    from big_data_management_and_analytics_spark.sources.io import load
    from big_data_management_and_analytics_spark.sources.session import get_spark

    engine.load_all()
    reg = engine.all_queries()
    names = args.names or sorted(set(reg) - SKIP)
    unknown = sorted(set(names) - set(reg))
    if unknown:
        ap.error(f"unknown ids: {' '.join(unknown)}")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    # Absorb session cold-start (JIT, codegen, first-scan file listing)
    # BEFORE the loop: without this the alphabetically-first id eats it
    # and tops every sweep (agg_abc_analysis read 15.1 s cold vs 0.70 s
    # in-session, r7 — pure startup, rediscovered each round).
    load(spark, args.sf, "lineitem").groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()

    records = profile(spark, {n: reg[n].fn for n in names}, args.sf, args.out)
    ok = sorted(
        ((r["wall_s"], n) for n, r in records.items() if r["error"] is None),
        reverse=True,
    )
    errors = len(records) - len(ok)
    print(f"\nslowest {SLOWEST} of {len(ok)} ids at {args.sf} (cold, 1 run):")
    for t, name in ok[:SLOWEST]:
        print(f"{t:8.2f}  {name}")
    print(f"\n{len(ok)} profiled, {errors} errors -> {args.out}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
