"""SparkSession construction + runtime tuning.

Two paths:

- ``get_spark()`` builds our own local session (tests, bench) with the full
  config set at build time.
- ``tune(spark)`` applies the *runtime-settable* subset to a session we did
  not build (the driver's). Verified: ``spark.sql.legacy.parquet.
  nanosAsLong``, session timezone, and Arrow flags are all settable via
  ``spark.conf.set`` on a running session (SURVEY.md §0 P1). Static confs
  are not: they are fixed when the JVM's first session is built, and
  ``spark.conf.set`` on one raises CANNOT_MODIFY_STATIC_CONFIG.

Generated-class cache. Spark compiles each generated Java source (whole-stage
and expression codegen) once and keeps the class in one JVM-wide LRU cache
of ``spark.sql.codegen.cache.maxEntries`` classes (default 100). A pass that
cycles over more distinct classes than the cache holds evicts each class
before it comes round again, so every pass recompiles all of them: one
perfbench ``tpch_olap`` or ``llm_pipeline`` pass generates 156 distinct
classes and recompiled ~150 on every warm pass at 100 entries, none at
``CODEGEN_CACHE_ENTRIES``. The size is a static conf, so only ``get_spark``
can set it; a session built elsewhere (the driver's) keeps Spark's 100 and
``tune`` leaves it there.

DataFrame call-site capture. PySpark records the Python call site of every
Column and functions call (``spark.python.sql.dataFrameDebugging.enabled``,
default true) so that a runtime error can name the user line that built the
failing expression (the "DataFrame query context"). Each such call then also
walks the Python stack and sends ``getActiveSession``, a conf read and a
``PySparkCurrentOrigin`` set and clear over py4j. ``get_spark`` turns it off
(``CALL_SITE_CAPTURE``): one warm build of the seven perfbench
``llm_pipeline`` ids sends 3,145 py4j commands instead of 9,098. What is given
up is that query context in runtime error messages; errors still raise with
the same error class. The conf is static and PySpark reads it once per
process, so a session built elsewhere (the driver's) keeps capture on and
``tune`` cannot change that.

Scale posture: shuffle partitions default to a small count for local sf≤0.1
runs but are env-overridable (``SPARK_GRAFT_SHUFFLE_PARTITIONS``); on a real
cluster AQE coalescing makes the static number mostly irrelevant. ``tune``
pins the width only over Spark's default of 200, so a width the caller set
stays.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
# Spark's own default width. A session that still reads it has no width
# chosen by anyone; any other value was set on purpose and tune() keeps it.
_SHUFFLE_DEFAULT = "200"

# Settings that are safe (and required) to set on a running session.
_RUNTIME_CONF = {
    # events.ts is parquet TIMESTAMP(NANOS) which Spark 4 cannot read natively
    # (PARQUET_TYPE_ILLEGAL); read as long + convert (SURVEY.md §0 P1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # All fixture timestamps are tz-naive; pin UTC on both engines (P5).
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 infers tz-naive parquet timestamps as TIMESTAMP_NTZ; keep the
    # classic TimestampType (interpreted in the UTC session tz) so all tables
    # share one timestamp type and window/interval functions behave uniformly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow for every Python boundary crossing (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local-mode shuffle sizing: the 200-partition default turns streaming
    # state stages into 200 tiny tasks at test scale. AQE coalesces batch
    # shuffles anyway; stateful streaming does not, so pin it here (tune()
    # pins it only over Spark's default; see _SHUFFLE_DEFAULT).
    _SHUFFLE_KEY: os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
}


# Capacity of Spark's generated-class cache (static conf
# ``spark.sql.codegen.cache.maxEntries``, default 100; 0 turns the cache
# off). Measured on a 4-core host with an unbounded cache: one session over
# bench.py's 26-id headline suite (sf0.1, then sf0.01) and the three
# perfbench workloads generates 691 distinct classes; one perfbench pass
# alone generates 156 (tpch_olap, llm_pipeline) or 73 (etl_sinks). 2048 is
# the next power of two above twice the 691.
CODEGEN_CACHE_ENTRIES = 2048


# PySpark's DataFrame call-site capture (static conf
# ``spark.python.sql.dataFrameDebugging.enabled``, default true). Measured on
# a 4-core host over perfbench's seven llm_pipeline ids at sf0.01: one warm
# build of each sends 9,098 py4j commands with it on and 3,145 with it off;
# traced build.self_s 1.86 -> 1.27 s. Together with the unrolled bloom probe
# the warm pass median fell 6.94 -> 5.99 s and 6.40 -> 5.33 s in two sets of
# 10 interleaved pairs.
CALL_SITE_CAPTURE = "false"


# SparkContexts that already received the package zip (by applicationId).
_PYFILES_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable on Python workers regardless of
    the DRIVER process's working directory.

    Module-level pandas UDFs pickle by REFERENCE (cloudpickle only
    serializes ``__main__`` functions by value), so each worker must
    ``import big_data_management_and_analytics_spark...`` itself. Workers inherit the
    driver's cwd — if the harness imported ``__spark_entry__`` from some
    other directory, that import fails with ModuleNotFoundError on the
    first UDF task. ``addPyFile`` of a package zip is the runtime-settable
    fix (and the exact mechanism that ships this engine to a real
    cluster's executors); one ~100 KB upload per session."""
    try:
        sc = spark.sparkContext
        app = sc.applicationId
    except Exception:
        return
    if app in _PYFILES_SHIPPED:
        return
    import shutil

    # io.py imports this module, so the helper is imported here.
    from big_data_management_and_analytics_spark.sources.io import scratch_dir

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = scratch_dir("bdma_pyfiles_")
    try:
        zip_path = shutil.make_archive(
            os.path.join(tmp, "big_data_management_and_analytics_spark_pkg"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(zip_path)
        _PYFILES_SHIPPED.add(app)
    except Exception:
        pass  # driver-side import still works; only exotic cwds need the zip


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable config to an externally-owned session.

    Every key is re-pinned on each call, except the shuffle width: it is
    pinned only while the session still reads Spark's default, so a width
    the caller chose (a test's 3, a driver's own sizing) survives every
    later ``load()`` and live streaming build."""
    for k, v in _RUNTIME_CONF.items():
        try:
            if k == _SHUFFLE_KEY and spark.conf.get(k) != _SHUFFLE_DEFAULT:
                continue
            spark.conf.set(k, v)
        except Exception:
            pass  # already-set static conf; keep going
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "bdma-spark") -> SparkSession:
    """Local session for tests/bench. local[N] with AQE on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout/stderr clean for the bench artifact (round-4 verdict
        # item 2): stage progress bars are pure capture noise here.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", CALL_SITE_CAPTURE)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
