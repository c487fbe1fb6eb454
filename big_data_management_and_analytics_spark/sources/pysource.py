"""Custom Python DataSource (Spark 4 DataSource API) — a deterministic
synthetic-events source demonstrating source extensibility.

The source is partition-aware: `partitions()` splits the row range into
`numPartitions` independent splits and each executor materializes only its
split — the same contract a real external-system connector (REST shards,
Kafka partitions, object-store listings) implements. Generation is
counter-based (hash of the row id), so any split is reproducible on retry —
the property a distributed source MUST have (task retries re-read splits).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.plans.registry import register

try:  # Spark 4 API; gate so older runtimes degrade gracefully
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover
    _HAS_DATASOURCE_API = False


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _row_for(i: int) -> tuple:
    """Deterministic event row from a counter (retry-safe, seedless)."""
    h = hashlib.md5(str(i).encode()).digest()
    return (
        i,
        int.from_bytes(h[0:2], "big") % 150,  # user_id
        EVENT_TYPES[h[2] % len(EVENT_TYPES)],
        round(int.from_bytes(h[3:5], "big") % 20000 / 100.0, 2),  # value
    )


if _HAS_DATASOURCE_API:

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SyntheticEventsDataSource(DataSource):
        """spark.read.format("synthetic_events").option("rows", n)"""

        @classmethod
        def name(cls) -> str:
            return "synthetic_events"

        def schema(self) -> str:
            return "event_id bigint, user_id bigint, event_type string, value double"

        def reader(self, schema):
            return SyntheticEventsReader(self.options)

    class SyntheticEventsReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = int(options.get("rows", 1000))
            self.n_parts = int(options.get("numPartitions", 8))

        def partitions(self):
            step = max(1, self.n_rows // self.n_parts)
            return [
                _RangePartition(s, min(s + step, self.n_rows))
                for s in range(0, self.n_rows, step)
            ]

        def read(self, partition: "_RangePartition"):
            for i in range(partition.start, partition.end):
                yield _row_for(i)


@register(
    "src_custom_datasource",
    "A",
    oracle="""
        WITH raw AS (
            SELECT md5(CAST(i AS VARCHAR)) AS h
            FROM (SELECT unnest(generate_series(0, 4999)) AS i)
        ),
        ev AS (
            SELECT list_value('click','error','purchase','signup','view')[
                       CAST(('0x' || substr(h, 5, 2)) AS BIGINT) % 5 + 1
                   ] AS event_type,
                   ROUND((CAST(('0x' || substr(h, 7, 4)) AS BIGINT) % 20000)
                         / 100.0, 2) AS value
            FROM raw
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM ev
        GROUP BY event_type
    """,
    doc=(
        "Custom partition-aware Python DataSource (Spark 4 DataSource API): "
        "deterministic synthetic events generated per split, aggregated by "
        "type. Oracle-tier even though the data never touches parquet: the "
        "generator is a pure function of the row counter (md5 bytes), so "
        "the oracle REGENERATES the same rows from generate_series and "
        "must match count-and-sum exactly — which also proves the "
        "partition splits cover the range exactly once (no gap, no "
        "overlap, retry-safe)."
    ),
)
def src_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not _HAS_DATASOURCE_API:  # pragma: no cover
        raise NotImplementedError("requires Spark >= 4.0 Python DataSource API")
    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    ev = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("numPartitions", 8)
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


if _HAS_DATASOURCE_API:
    try:
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
            """Bounded micro-batch reader over the same deterministic rows.

            Offsets are plain row counters; ``read`` serves at most
            ``batchSize`` rows past the start offset and reports the new
            offset. When the counter reaches ``rows`` the returned offset
            stops advancing, which Structured Streaming interprets as
            "no new data" — so processAllAvailable() terminates. Replays
            (readBetweenOffsets) regenerate rows from the counters, giving
            exactly-once semantics on retry like a real offset-based bus.
            """

            def __init__(self, options):
                self.total = int(options.get("rows", 1000))
                self.batch = int(options.get("batchSize", 250))

            def initialOffset(self):
                return {"offset": 0}

            def read(self, start):
                s = int(start["offset"])
                e = min(s + self.batch, self.total)
                return (iter([_row_for(i) for i in range(s, e)]), {"offset": e})

            def readBetweenOffsets(self, start, end):
                return iter(
                    [_row_for(i) for i in range(int(start["offset"]), int(end["offset"]))]
                )

        _HAS_STREAM_READER = True
    except ImportError:  # pragma: no cover
        _HAS_STREAM_READER = False

    if _HAS_STREAM_READER:
        # Attach the stream reader to the existing batch DataSource class so
        # one format name serves both spark.read and spark.readStream.
        def _simple_stream_reader(self, schema):
            return SyntheticEventsStreamReader(self.options)

        SyntheticEventsDataSource.simpleStreamReader = _simple_stream_reader
else:  # pragma: no cover
    _HAS_STREAM_READER = False


@register(
    "src_stream_datasource",
    "A",
    oracle="""
        WITH raw AS (
            SELECT md5(CAST(i AS VARCHAR)) AS h
            FROM (SELECT unnest(generate_series(0, 1999)) AS i)
        )
        SELECT list_value('click','error','purchase','signup','view')[
                   CAST(('0x' || substr(h, 5, 2)) AS BIGINT) % 5 + 1
               ] AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM raw
        GROUP BY event_type
    """,
    doc=(
        "Streaming Python DataSource (Spark 4 SimpleDataSourceStreamReader): "
        "the synthetic-events source consumed as micro-batches with "
        "counter-based offsets and deterministic replay, aggregated to "
        "per-type counts in complete mode. The offset contract (read / "
        "readBetweenOffsets) is what Kafka-like connectors implement. "
        "Oracle-tier: the generator is a pure counter function, so the "
        "oracle regenerates the stream's rows in SQL — exactly-once "
        "offset progression (no skipped or double-read batch) is what "
        "makes the final counts hash-match."
    ),
)
def src_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not (_HAS_DATASOURCE_API and _HAS_STREAM_READER):  # pragma: no cover
        raise NotImplementedError("requires Spark >= 4.0 streaming DataSource API")
    import uuid

    from big_data_management_and_analytics_spark.sources.io import scratch_dir

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass
    name = f"pyds_stream_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir("bdma_pyds_ckpt_")
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", 2000)
        .option("batchSize", 500)
        .load()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


if _HAS_DATASOURCE_API:
    try:
        from dataclasses import dataclass

        from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

        @dataclass
        class _JsonlCommit(WriterCommitMessage):
            count: int
            file: str

        class JsonlSinkWriter(DataSourceWriter):
            """Partition-parallel JSONL writer: each task streams its rows
            to one uniquely-named file and reports a commit message —
            the task/commit split every two-phase distributed sink has
            (speculative/retried tasks write distinct files; only the
            committed set counts). commit() records the committed file
            set in a ``_committed.json`` manifest so the read-back side
            can ignore orphan files from retried/speculative tasks."""

            def __init__(self, options):
                self.path = options["path"]

            def commit(self, messages):
                import json
                import os

                files = sorted(
                    os.path.basename(m.file)
                    for m in messages
                    if m is not None
                )
                with open(
                    os.path.join(self.path, "_committed.json"), "w"
                ) as f:
                    json.dump(files, f)

            def write(self, iterator):
                import json
                import os
                import uuid

                os.makedirs(self.path, exist_ok=True)
                fname = os.path.join(
                    self.path, f"part-{uuid.uuid4().hex}.jsonl"
                )
                n = 0
                with open(fname, "w") as f:
                    for row in iterator:
                        f.write(
                            json.dumps(
                                {
                                    "event_id": row.event_id,
                                    "event_type": row.event_type,
                                    "vc": row.vc,
                                }
                            )
                            + "\n"
                        )
                        n += 1
                return _JsonlCommit(n, fname)

        class JsonlSinkDataSource(DataSource):
            """df.write.format("graft_jsonl_sink").option("path", dir)"""

            @classmethod
            def name(cls) -> str:
                return "graft_jsonl_sink"

            def writer(self, schema, overwrite):
                return JsonlSinkWriter(self.options)

        _HAS_DATASOURCE_WRITER = True
    except ImportError:  # pragma: no cover
        _HAS_DATASOURCE_WRITER = False
else:  # pragma: no cover
    _HAS_DATASOURCE_WRITER = False


@register(
    "sink_custom_datasource",
    "A",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY event_type
    """,
    doc=(
        "Custom Python DataSource WRITER (Spark 4 DataSource API write "
        "path — the other half of src_custom_datasource): events flow "
        "through df.write.format(...) into per-task JSONL files, are "
        "read back, and re-aggregated. The oracle aggregates the "
        "ORIGINAL parquet directly, so a hash match proves the custom "
        "sink lost/duplicated nothing end-to-end (exact integer cents "
        "survive the JSON hop losslessly). Scale posture: write() runs "
        "per partition with unique file names + commit messages — the "
        "two-phase shape real sinks use so task retries never "
        "double-count; local shared-FS caveat as src_binaryfile."
    ),
)
def sink_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not _HAS_DATASOURCE_WRITER:  # pragma: no cover
        raise NotImplementedError("requires Spark >= 4.0 DataSource writer API")
    from big_data_management_and_analytics_spark.plans.determinism import cents
    from big_data_management_and_analytics_spark.sources.io import load, scratch_dir

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass  # already registered in this session
    path = scratch_dir("bdma_jsonl_sink_")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("vc")
    )
    ev.write.format("graft_jsonl_sink").option("path", path).mode(
        "append"
    ).save()
    # Read back ONLY the committed set from the commit() manifest — an
    # orphan file left by a speculative/retried task is never counted.
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_committed.json")) as f:
        committed = [_os.path.join(path, b) for b in _json.load(f)]
    back = spark.read.schema("event_id long, event_type string, vc long").json(
        committed
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("vc").cast("bigint").alias("sum_cents"),
    )
