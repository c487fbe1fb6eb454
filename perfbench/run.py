"""Steady end-to-end and per-layer benchmark of the engine's registry ids.

Usage, from the repository root:

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a separate
traced run and prints the per-layer metrics instead. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The line
before it carries the run's details (seed, set-up samples, per-pass times,
per-id medians, output mismatches).

A run is a closed loop, one client and one query at a time, on
``local[<cores>]``. Each run works in its own directory under
``.perfbench_run/`` (working directory, ``SPARK_LOCAL_DIRS``, temp files),
removed when the run ends; traced runs leave their spans in
``.perfbench_run/traces/``. See ``README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import compileall
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import DATA_DIR, EXPECTED_PATH, WORKLOADS  # noqa: E402

ENGINE_DIR = os.path.join(ROOT, "big_data_management_and_analytics_spark")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# Set-up time is the median of this many fresh processes per untraced run:
# SETUP_SAMPLES - 1 set-up-only probes plus the measured run's own set-up.
SETUP_SAMPLES = 3
# Worker time limits: a run must end, group clean-up included, within 180 s.
RUN_DEADLINE_S = 150.0
PROBE_TIMEOUT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
    "ok_frac": "ratio",
}


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if "bytes" in field:
        return "bytes"
    if field == "core_util":
        return "ratio"
    return "count"


LAYER_NAMES = (
    "session.start_s",
    "session.registry_s",
    "build.self_s",
    "build.eager_executions",
    "build.eager_s",
    "operators.exec_s",
    "operators.jobs",
    "operators.exchanges",
    "operators.bhj",
    "operators.smj",
    "operators.bnlj",
    "operators.shuffle_records",
    "operators.shuffle_bytes",
    "operators.spill_bytes",
    "operators.rows_out",
    "operators.gc_s",
    "operators.core_util",
    "operators.codegen_compiles",
    "operators.codegen_compile_s",
    "operators.codegen_compiles_warm",
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
    "host.calib_start_s",
    "host.calib_end_s",
    "trace.overhead_s",
)


def per_id_names(ids) -> tuple[str, ...]:
    return tuple(f"{qid}.{field}" for qid in ids for field in ("build_s", "exec_s", "executions"))


PER_ID_NAMES = per_id_names(qid for ids in WORKLOADS.values() for qid in ids)
PER_LAYER = {name: _unit(name) for name in LAYER_NAMES + PER_ID_NAMES}


def prime_file_cache() -> None:
    """Read the Spark jars, the engine package and the fixtures once, and
    byte-compile the engine, so that no run's set-up pays for a cold page
    cache or a first import's compile and the first run of a checkout is
    not slower than the rest."""
    spec = importlib.util.find_spec("pyspark")
    roots = [os.path.dirname(spec.origin), ENGINE_DIR, DATA_DIR]
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in files:
                with open(os.path.join(dirpath, name), "rb") as fh:
                    while fh.read(1 << 20):
                        pass
    compileall.compile_dir(ENGINE_DIR, quiet=1)


def calib_burst() -> float:
    """Seconds for a fixed single-thread CPU burst (host triage only)."""
    buf = b"\0" * (1 << 22)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(32):
        h.update(buf)
    return time.perf_counter() - t0


def child_env(work: str, cores: int) -> dict[str, str]:
    """Environment of a benchmark process: every scratch write inside
    ``work``, ``SPARK_GRAFT_CPUS`` pinned, every other engine knob at its
    default."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # The JVM's own temp files (native-library extraction) and its
        # /tmp/hsperfdata file would otherwise land outside the checkout.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_worker(args: list[str], work: str, env: dict, timeout: float) -> dict:
    """Run ``worker.py`` in its own process group, wait for the whole group
    (JVM and Python workers included) to end, and return its JSON result."""
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--out", out]
    with open(os.path.join(work, "worker.log"), "ab") as log:
        proc = subprocess.Popen(
            [*cmd, "--spawned", repr(time.monotonic())],
            cwd=os.path.join(work, "cwd"),
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=log,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        deadline = time.monotonic() + 20
        while _group_alive(proc.pid):
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                deadline = time.monotonic() + 20
            time.sleep(0.05)
    if rc != 0:
        with open(os.path.join(work, "worker.log"), errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"benchmark worker {why}: {' '.join(args)}")
    with open(out) as fh:
        return json.load(fh)


def _missing_inputs() -> list[str]:
    need = [os.path.join(ENGINE_DIR, "__init__.py"), os.path.join(ROOT, "tools", "check.py"), EXPECTED_PATH]
    need += [os.path.join(DATA_DIR, f"{t}.parquet") for t in ("lineitem", "documents", "events")]
    missing = [p for p in need if not os.path.isfile(p)]
    if importlib.util.find_spec("pyspark") is None:
        missing.append("the pyspark package")
    return missing


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = _missing_inputs()
    if missing:
        print("perfbench: cannot run, missing: " + ", ".join(missing), file=sys.stderr)
        return 2

    started = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("cwd", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = child_env(work, cores)
    common = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds)]
    try:
        prime_file_cache()
        calib_start = calib_burst()
        setups = []
        if not args.trace:
            for _ in range(SETUP_SAMPLES - 1):
                probe = run_worker([*common, "--setup-only"], work, env, PROBE_TIMEOUT_S)
                setups.append(probe["setup_s"])
        remaining = RUN_DEADLINE_S - (time.monotonic() - started)
        res = run_worker([*common, "--trace", str(args.trace)], work, env, remaining)
        calib_end = calib_burst()
    except (RuntimeError, OSError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setups.append(res["setup_s"])
    res.update({"host.calib_start_s": calib_start, "host.calib_end_s": calib_end})
    res["setup_s"] = statistics.median(setups)
    if args.trace:
        trace_dir = os.path.join(RUN_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": res.pop("spans")}, fh)
        # Another workload's per-id metrics are 0 here by definition; every
        # other per-layer metric must have been measured.
        foreign = set(PER_ID_NAMES) - set(per_id_names(WORKLOADS[args.workload]))
        metrics = {n: {"value": 0.0 if n in foreign else float(res[n]), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(res[n]), "unit": u} for n, u in END_TO_END.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "setup_samples_s": setups,
        **{k: res[k] for k in ("timed_passes", "pass_walls", "per_id_median_s", "mismatches")},
        "host.calib_start_s": calib_start,
        "host.calib_end_s": calib_end,
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
