"""Session-layer tests: the generated-class cache holds a pass's working set.

Spark's codegen cache is one LRU per JVM. Sized below the distinct classes a
repeated pass generates, it misses on every access and recompiles every class
on every pass; ``get_spark`` sizes it so a warm pass compiles nothing.
"""

from __future__ import annotations

import importlib.util
import os

from conftest import SF_SMALL

_WORKLOADS = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "perfbench", "workloads.py"
)


def _tpch_olap_ids() -> tuple[str, ...]:
    spec = importlib.util.spec_from_file_location("perfbench_workloads", _WORKLOADS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.WORKLOADS["tpch_olap"]


def test_warm_pass_compiles_no_generated_class(spark, registry):
    from big_data_management_and_analytics_spark.sources.session import (
        CODEGEN_CACHE_ENTRIES,
    )

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    ids = _tpch_olap_ids()

    def one_pass() -> int:
        before = compiles.getCount()
        for qid in ids:
            registry[qid].fn(spark, SF_SMALL).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0
