"""Lineage truncation: every checkpoint goes through ``sources/io.py::checkpoint``.

With no checkpoint dir the helper takes ``localCheckpoint``, whose rows live
only on the executors that computed them. With Spark's ``spark.checkpoint.dir``
set it takes reliable ``checkpoint``, and a query survives losing an executor.
The kill test runs that in a ``local-cluster`` subprocess: a process holds
one SparkContext, and tier-1's is ``local[N]``.
"""

from __future__ import annotations

import ast
import json
import os
import signal
import subprocess
import sys
import textwrap
from pathlib import Path
from types import SimpleNamespace

import pytest

from tests.conftest import SF_T2

_REPO = Path(__file__).resolve().parent.parent
_PACKAGE = _REPO / "big_data_management_and_analytics_spark"

# Wall seconds the kill test's subprocess may run before its whole process
# group is killed. It takes about 85 s on a 4-core host.
KILL_TEST_TIMEOUT_S = 300


def _checkpoint_calls(path: Path) -> list[tuple[str | None, int]]:
    """(enclosing function, line) of every ``.checkpoint(...)`` and
    ``.localCheckpoint(...)`` call in one module."""
    found = []

    def visit(node: ast.AST, scope: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("checkpoint", "localCheckpoint")
            ):
                found.append((scope, child.lineno))
            visit(child, scope)

    visit(ast.parse(path.read_text()), None)
    return found


def test_only_the_helper_checkpoints():
    """No module of the package calls Spark's checkpoints but the helper,
    so the local-or-reliable choice is made in one place."""
    helper = _PACKAGE / "sources" / "io.py"
    stray, inside = [], 0
    for path in sorted(_PACKAGE.rglob("*.py")):
        for scope, line in _checkpoint_calls(path):
            if path == helper and scope == "checkpoint":
                inside += 1
            else:
                stray.append(f"{path.relative_to(_REPO)}:{line} in {scope}")
    assert not stray, "checkpoint outside sources/io.py::checkpoint: " + ", ".join(
        stray
    )
    assert inside == 2  # reliable and local


def test_checkpoint_reads_the_dir_once_per_context(monkeypatch):
    """The policy is read on the first call per SparkContext, and a new
    SparkContext reads it again."""
    from big_data_management_and_analytics_spark.sources import io

    class Context:
        def __init__(self, path):
            self.path, self.reads = path, 0

        def getCheckpointDir(self):
            self.reads += 1
            return self.path

    class Frame:
        def __init__(self, sc):
            self.sparkSession = SimpleNamespace(sparkContext=sc)

        def checkpoint(self, eager):
            return "reliable", eager

        def localCheckpoint(self, eager):
            return "local", eager

    monkeypatch.setattr(io, "_CHECKPOINT_POLICY", None)
    plain, shared = Context(None), Context("file:/ckpt")
    assert io.checkpoint(Frame(plain)) == ("local", True)
    assert io.checkpoint(Frame(plain), eager=False) == ("local", False)
    assert io.checkpoint(Frame(shared)) == ("reliable", True)
    assert io.checkpoint(Frame(shared), eager=False) == ("reliable", False)
    assert (plain.reads, shared.reads) == (1, 1)


def test_checkpoint_sends_no_command_beyond_the_checkpoint(spark):
    """Once the policy is read, the helper costs no py4j command over a
    bare ``localCheckpoint``."""
    from big_data_management_and_analytics_spark.sources.io import checkpoint

    df = spark.range(10)
    df.transform(checkpoint, eager=False)  # reads the policy
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        df.localCheckpoint(eager=False)
        bare = len(sent)
        df.transform(checkpoint, eager=False)
    finally:
        del client.send_command
    assert len(sent) - bare == bare


# Runs in a fresh process: per id, a local-cluster SparkContext with a
# checkpoint dir builds the id and collects it, builds it again, loses the
# executor holding the newest RDD block (local checkpoint blocks are RDD
# blocks; reliable checkpoints leave none, so then the first executor), and
# collects. Prints one JSON line per id.
_CHILD = textwrap.dedent(
    """
    import json, os, sys, time

    from pyspark.sql import SparkSession

    import big_data_management_and_analytics_spark as engine
    from big_data_management_and_analytics_spark.sources.session import tune

    ckdir, sf_dir, ids = sys.argv[1], sys.argv[2], sys.argv[3:]
    engine.load_all()
    registry = engine.all_queries()


    def live(jsc):
        ids = jsc.getExecutorIds()
        return [ids.apply(i) for i in range(ids.size())]


    def newest_block_holder(jsc):
        newest = (-1, None)
        for st in jsc.env().blockManager().master().getStorageStatus():
            ex = st.blockManagerId().executorId()
            for block in filter(None, st.rddBlocks().keys().mkString(",").split(",")):
                newest = max(newest, (int(block.split("_")[1]), ex))
        return newest[1]


    def wait_for(cond):
        deadline = time.time() + 120
        while not cond():
            if time.time() > deadline:
                raise TimeoutError("executors did not reach the wanted state")
            time.sleep(0.2)


    for qid in ids:
        spark = tune(
            SparkSession.builder.master("local-cluster[2,1,1024]")
            .config("spark.checkpoint.dir", ckdir)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        jsc = spark.sparkContext._jsc.sc()
        wait_for(lambda: len(live(jsc)) == 2)
        fn = registry[qid].fn
        want = sorted(fn(spark, sf_dir).collect())
        df = fn(spark, sf_dir)
        victim = newest_block_holder(jsc) or live(jsc)[0]
        jsc.killExecutor(victim)
        wait_for(lambda: victim not in live(jsc))
        try:
            error, same = None, sorted(df.collect()) == want
        except Exception as e:
            error, same = str(e)[:400], False
        files = sum(len(f) for _, _, f in os.walk(ckdir))
        print(json.dumps({"id": qid, "rows": len(want), "same": same,
                          "error": error, "checkpoint_files": files}), flush=True)
        spark.stop()
    """
)


def _shadow_spark_home(tmp_path: Path) -> Path:
    """A SPARK_HOME that links every entry of the real one but ``work``,
    so the standalone workers write executor dirs under ``tmp_path``."""
    from pyspark.find_spark_home import _find_spark_home

    real = _find_spark_home()
    home = tmp_path / "spark_home"
    home.mkdir()
    for name in os.listdir(real):
        if name != "work":
            (home / name).symlink_to(os.path.join(real, name))
    return home


def test_checkpoints_survive_a_lost_executor(tmp_path):
    """With ``spark.checkpoint.dir`` set, an iterative id collects the same
    rows after one of its two executors is lost between the build (whose
    eager checkpoints materialized) and the collect."""
    ids = ["llm_dedup_components", "graph_pagerank"]
    env = dict(
        os.environ,
        SPARK_HOME=str(_shadow_spark_home(tmp_path)),
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, str(tmp_path / "ckpt"), SF_T2, *ids],
        cwd=_REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=KILL_TEST_TIMEOUT_S)
    finally:
        # The child's JVM and its executor JVMs share its process group.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    results = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    assert [r["id"] for r in results] == ids, err[-3000:]
    for r in results:
        assert r["same"], r
        assert r["rows"] > 0 and r["checkpoint_files"] > 0, r
