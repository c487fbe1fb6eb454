from __future__ import annotations

import importlib.util
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

SF_SMALL = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def load_tool(name):
    """Import ``tools/<name>.py`` as a module (tools/ is not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"{name}_tool", os.path.join(_TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    from big_data_management_and_analytics_spark.sources.session import get_spark

    s = get_spark("pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry():
    import big_data_management_and_analytics_spark as engine

    engine.load_all()
    return engine.all_queries()
