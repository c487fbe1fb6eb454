"""Files a query writes outlive the lazy frame it returns: every write goes
to ``sources/io.py::scratch_dir``, and only process exit removes it."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_T2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dirs_share_one_root_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from big_data_management_and_analytics_spark.sources.io import scratch_dir\n"
        "for prefix in ('a_', 'b_'):\n"
        "    d = scratch_dir(prefix)\n"
        "    open(os.path.join(d, 'f'), 'w').write('x')\n"
        "    print(d)\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    a, b = done.stdout.split()
    root = os.path.dirname(a)
    assert a != b and os.path.dirname(b) == root
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("name", ["sink_table_versions", "llm_index_persist"])
def test_frame_outlives_the_next_call(spark, registry, name):
    """A frame built before a second call of the same id still reads its
    files, and equals the second call's result."""
    fn = registry[name].fn
    first = fn(spark, SF_T2)
    second = fn(spark, SF_T2)
    assert sorted(first.collect()) == sorted(second.collect())
