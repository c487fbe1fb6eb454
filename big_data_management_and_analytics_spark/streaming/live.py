"""Category I (live) — true Structured Streaming twins (rows-tier).

Each query replays the events parquet through ``readStream`` with the
``availableNow`` trigger (bounded replay of an unbounded plan) and returns
the materialized result. The aggregation specs are shared with
batch_twins.py so stream and batch semantics cannot drift.

Timestamp units: readStream needs an explicit schema, so it is derived
from a batch read of the same file — that honors whatever physical type
the parquet carries (TIMESTAMP(MICROS) reads as timestamp; legacy
TIMESTAMP(NANOS) reads as int64 under nanosAsLong and is converted by
``sources/io.py::with_event_ts``, the recipe ``load`` uses).
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    local_frame,
    scratch_dir,
    with_event_ts,
)
from big_data_management_and_analytics_spark.sources.session import tune
from big_data_management_and_analytics_spark.streaming.batch_twins import (
    DEDUP_ORACLE,
    SESSION_ORACLE,
    SLIDING_ORACLE,
    TUMBLING_ORACLE,
    tumbling_agg,
)

def _batch_schema(spark: SparkSession, sample_file: str) -> T.StructType:
    """Schema a batch read resolves for the file — the unit-correct source
    of truth for the explicit schema readStream requires. An untyped read
    infers it in a job of its own, so it is memoized per (session,
    absolute path), as ``load`` memoizes its frames."""
    return _resolved_schema(spark, os.path.abspath(sample_file))


@functools.lru_cache(maxsize=64)
def _resolved_schema(spark: SparkSession, path: str) -> T.StructType:
    return spark.read.parquet(path).schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path):
        # Multi-file fixture (production layout): events.parquet is a
        # DIRECTORY of part files — point the stream at it directly.
        raw = (
            spark.readStream.schema(_batch_schema(spark, ev_path))
            .option("pathGlobFilter", "*.parquet")
            .parquet(ev_path)
        )
    else:
        # Single-file fixture: FileStreamSource needs a directory;
        # glob-filter to the events file inside sf_dir.
        raw = (
            spark.readStream.schema(_batch_schema(spark, ev_path))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return with_event_ts(raw)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a bounded streaming query into an in-memory table.

    The state partition count is fixed at query start from
    ``spark.sql.shuffle.partitions`` and every stateful operator pays a
    per-partition-per-microbatch state-store commit (delta file + fsync
    per store; a stream-stream join keeps FOUR stores per partition), so
    on a bounded local replay of a small fixture that fixed cost
    dominates wall time (measured: 32 partitions 7.8 s vs 4 partitions
    4.8 s for the stream-stream twin — the work per row is trivial).
    State width is a deployment knob, not a semantic one (all stateful
    results here are partition-invariant, which the shuffle-invariance
    harness checks), so bounded replays default to a narrow store and
    production sets SPARK_GRAFT_STREAM_STATE_PARTS to O(cluster cores)."""
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir("bdma_ckpt_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "4"),
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # The started query captured the narrow width; the session-wide
        # batch setting must not leak to whatever runs next.
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        finished = q.awaitTermination(300)
        if not finished:
            # Timing out would silently return a truncated table — fail loud.
            raise TimeoutError(f"streaming query {name} did not finish in 300s")
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


@register(
    "stream_tumbling_live",
    "I",
    oracle=TUMBLING_ORACLE,
    doc=(
        "True streaming twin of stream_tumbling_batch: readStream → "
        "watermark → window agg → memory sink, availableNow trigger. "
        "Complete mode emits every window (append would hold back windows "
        "the final watermark hasn't passed). Oracle-tier: complete-mode "
        "bounded replay emits exactly the batch aggregation, so the batch "
        "twin's oracle (shared constant) verifies the LIVE result "
        "hash-exactly too."
    ),
)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(tumbling_agg(ev), "complete")


@register(
    "stream_watermark_late",
    "I",
    doc=(
        "Late-data drop: replay events as two files — recent events first "
        "(advances the watermark), then a file of old (late) events. With a "
        "10-minute watermark in append mode the late rows are dropped; the "
        "result is the emitted window set, which excludes the late file's "
        "contribution."
    ),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    src = scratch_dir("bdma_late_src_")
    full = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .limit(2000)
        .toPandas()
    )
    cutoff = full["ts"].quantile(0.5)
    recent = full[full["ts"] >= cutoff]
    late = full[full["ts"] < cutoff]
    # File order = modification time; write recent first so the
    # watermark has advanced past the late file's event times.
    recent_path = os.path.join(src, "batch0.parquet")
    late_path = os.path.join(src, "batch1.parquet")
    recent.to_parquet(recent_path, index=False)
    late.to_parquet(late_path, index=False)
    now = os.stat(recent_path).st_mtime
    os.utime(recent_path, (now - 60, now - 60))
    os.utime(late_path, (now, now))

    raw = (
        spark.readStream.schema(_batch_schema(spark, recent_path))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev = with_event_ts(raw).withWatermark("ts", "10 minutes")
    counts = ev.groupBy(F.window("ts", "1 hour").alias("win")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return _run_to_memory(
        counts.select(F.col("win.start").alias("window_start"), "n_events"),
        "append",
    )


# Per-user sessionization summary — the gaps-and-islands equivalent of
# the 30-min-gap stateful fold (strict > gap, matching
# _fold_session_counts). A bounded replay is one micro-batch, so the
# update-mode memory sink holds exactly the final per-user row.
SESSION_COUNT_ORACLE = """
        WITH marks AS (
            SELECT user_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(SUM(new_s) AS BIGINT) AS n_sessions,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM marks
        GROUP BY user_id
"""


@register(
    "stream_stateful_sessions",
    "I",
    oracle=SESSION_COUNT_ORACLE,
    doc=(
        "Arbitrary stateful processing: applyInPandasWithState sessionizer "
        "(30-min gap) over the replayed stream — per-user open-session "
        "summary emitted each micro-batch, state carried in GroupState. "
        "Oracle-tier: the bounded replay is one micro-batch, so the "
        "update-mode emission is the final per-user row, which the "
        "gaps-and-islands SQL reproduces exactly (same strict-> gap)."
    ),
)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            n_sessions, n_events, last_us = state.get
        else:
            n_sessions, n_events, last_us = 0, 0, None
        n_sessions, n_events, last_us = _fold_session_counts(
            _sorted_event_us(pdf_iter), n_sessions, n_events, last_us, gap_us
        )
        state.update((n_sessions, n_events, last_us))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    ev = read_events_stream(spark, sf_dir)
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(sessions, "update")


# ---- shared sessionization semantics (both stateful APIs fold through
# these, so the two operators cannot drift) ----

_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _sorted_event_us(pdf_iter) -> "pd.Series":
    """A group may arrive as several Arrow chunks in arbitrary order; gap
    detection is only correct over the per-invocation GLOBAL sort, so
    collect every chunk's timestamps before sorting once."""
    return pd.concat(
        [pdf["ts"].astype("datetime64[us]").astype("int64") for pdf in pdf_iter],
        ignore_index=True,
    ).sort_values()


def _fold_session_counts(sorted_us, n_sessions, n_events, last_us, gap_us):
    """Single-pass session fold: a new session opens when the gap to the
    previous event exceeds gap_us. Pure function of (sorted times, carried
    state) — unit-testable without a stream."""
    for us in sorted_us:
        if last_us is None or us - last_us > gap_us:
            n_sessions += 1
        n_events += 1
        last_us = int(us)
    return n_sessions, n_events, last_us


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks a protobuf state-server protocol
    between the JVM and the Python worker; without the protobuf runtime
    the worker dies at import time. Gate, don't crash (environment pins
    packages; no installs)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "stream_tws_sessions",
    "I",
    oracle=SESSION_COUNT_ORACLE,
    doc=(
        "Spark 4 arbitrary-state API (transformWithStateInPandas, the "
        "applyInPandasWithState successor): the same 30-min-gap "
        "sessionizer expressed as a StatefulProcessor with a ValueState "
        "handle. Shares _fold_session_counts/_sorted_event_us with "
        "stream_stateful_sessions so the two APIs compute identical "
        "results (asserted in tests). The state-server protocol needs the "
        "protobuf runtime; where it is absent (this container) the "
        "operator falls back to the applyInPandasWithState twin — the "
        "StatefulProcessor itself is real and its fold is unit-tested."
    ),
)
def stream_tws_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not _has_protobuf():
        return stream_stateful_sessions(spark, sf_dir)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = 30 * 60 * 1_000_000

    class SessionCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("sess", _SESSION_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            (user_id,) = key
            if self._state.exists():
                n_sessions, n_events, last_us = self._state.get()
            else:
                n_sessions, n_events, last_us = 0, 0, None
            n_sessions, n_events, last_us = _fold_session_counts(
                _sorted_event_us(rows), n_sessions, n_events, last_us, gap_us
            )
            self._state.update((n_sessions, n_events, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_sessions": [n_sessions],
                    "n_events": [n_events],
                }
            )

        def close(self) -> None:
            pass

    ev = read_events_stream(spark, sf_dir)
    sessions = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionCountProcessor(),
        outputStructType=_SESSION_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _run_to_memory(sessions, "update")


def _purchase_click_stream_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Shared spec for the stream-stream join twins: purchases joined to
    the same user's clicks within the previous 10 minutes. Both sides
    carry watermarks so Spark can bound the join state (the time-range
    condition tells the state store when a buffered row can never match
    again)."""
    left = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    right = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
        how,
    ).select("purchase_id", "click_id", "p_user", "p_ts", "c_ts")
    return _run_to_memory(joined, "append")


@register(
    "stream_stream_join_live",
    "I",
    oracle="""
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id AS p_user,
               p.ts AS p_ts,
               c.ts AS c_ts
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.ts < p.ts
         AND c.ts >= p.ts - INTERVAL '10 minutes'
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc=(
        "Stream-stream inner join with watermarks: purchases joined to the "
        "same user's clicks within the previous 10 minutes — the live twin "
        "of join_interval_pairs' pattern. Oracle-tier: inner joins emit "
        "every match as found (no watermark holdback for matched rows), "
        "so a bounded replay emits exactly the batch interval join the "
        "oracle states."
    ),
)
def stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_click_stream_join(spark, sf_dir, "inner")


@register(
    "stream_stream_outer_join_live",
    "I",
    doc=(
        "Stream-stream LEFT OUTER join with watermarks: purchases with no "
        "click in the prior 10 minutes emit with null click columns — but "
        "only once the watermark proves no match can still arrive. "
        "Purchases newer than (max event time − watermark) stay buffered at "
        "stream end: bounded-replay outer joins under-emit the tail by "
        "design. Rows-tier."
    ),
)
def stream_stream_outer_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _purchase_click_stream_join(spark, sf_dir, "leftOuter")


@register(
    "stream_output_modes",
    "I",
    doc=(
        "Output-mode matrix: the same windowed count run in append / "
        "update / complete plus a foreachBatch parquet sink; returns one "
        "row per mode with the emitted row count."
    ),
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    counts_spec = lambda ev: ev.groupBy(  # noqa: E731
        F.window("ts", "6 hours").alias("win")
    ).agg(F.count(F.lit(1)).alias("n_events"))

    results = []
    for mode in ("append", "update", "complete"):
        ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
        out = _run_to_memory(
            counts_spec(ev).select(F.col("win.start").alias("ws"), "n_events"), mode
        )
        results.append((mode, out.count()))

    # foreachBatch → parquet sink path
    # Not created until a batch is written; the count below reads 0 if none was.
    sink = os.path.join(scratch_dir("bdma_fb_sink_"), "out")
    ckpt = scratch_dir("bdma_fb_ckpt_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    counts = counts_spec(ev).select(F.col("win.start").alias("ws"), "n_events")
    q = (
        counts.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # Fail loud on timeout (mirrors _run_to_memory): a silent timeout
        # would report a truncated sink row count as if it were complete.
        if not q.awaitTermination(120):
            raise TimeoutError("foreachBatch parquet sink did not finish")
    finally:
        q.stop()
    n_sink = (
        spark.read.schema(counts.schema).parquet(sink).count()
        if os.path.isdir(sink)
        else 0
    )
    results.append(("foreach_batch_parquet", n_sink))

    return local_frame(spark, results, "mode string, n_rows long")


@register(
    "stream_sliding_live",
    "I",
    oracle=SLIDING_ORACLE,
    doc=(
        "True streaming twin of stream_sliding_batch: overlapping 10/5-min "
        "windows over the replayed stream, complete mode (every window "
        "emitted; shares sliding_agg AND the oracle with the batch twin — "
        "complete-mode bounded replay is hash-exactly the batch result)."
    ),
)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.streaming.batch_twins import sliding_agg

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(sliding_agg(ev), "complete")


@register(
    "stream_session_live",
    "I",
    oracle=SESSION_ORACLE,
    doc=(
        "True streaming twin of stream_session_batch: session_window "
        "aggregation is stateful-merge (sessions grow/merge across "
        "micro-batches). Session windows only support append/complete; "
        "complete emits every closed-or-open session at stream end. "
        "Shares session_agg AND the gaps-and-islands oracle with the "
        "batch twin (complete-mode bounded replay ≡ batch result)."
    ),
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.streaming.batch_twins import session_agg

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _run_to_memory(session_agg(ev), "complete")


@register(
    "stream_dedup_live",
    "I",
    oracle=DEDUP_ORACLE,
    doc=(
        "True streaming twin of stream_dedup_batch: dropDuplicates keeps "
        "per-key state in the state store; with a bounded replay the "
        "emitted key set equals the batch DISTINCT (asserted in tests, "
        "and hash-verified against the shared oracle — the append-mode "
        "emission is exactly one row per key)."
    ),
)
def stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_checkpoint_resume",
    "I",
    oracle="""
        SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    doc=(
        "Checkpointed incremental processing: the same availableNow query "
        "runs twice against a monotonically-growing file directory with a "
        "shared checkpoint - run 1 ingests file A, run 2 ingests ONLY the "
        "newly-arrived file B (the checkpoint's file log skips A). The "
        "final sink holds each file exactly once; since B is a copy of A, "
        "the per-type counts equal exactly 2x the batch table's - which "
        "the oracle checks, making exactly-once progress tracking "
        "hash-verifiable."
    ),
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    src = scratch_dir("bdma_ckres_src_")
    sink = scratch_dir("bdma_ckres_sink_")
    ckpt = scratch_dir("bdma_ckres_ckpt_")
    events_file = os.path.join(sf_dir, "events.parquet")

    def run_once() -> T.StructType:
        raw = (
            spark.readStream.schema(_batch_schema(spark, events_file))
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
        typed = raw.select("event_id", "event_type")
        q = (
            typed.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("checkpoint-resume run did not finish")
        return typed.schema

    def stage_batch(tag: str) -> None:
        # Single-file fixture: one copy. Multi-file fixture (a directory
        # of part files): copy each part under a batch-tagged name so
        # both batches' files coexist in the flat stream source dir.
        if os.path.isdir(events_file):
            for f in sorted(os.listdir(events_file)):
                if f.endswith(".parquet"):
                    shutil.copy(
                        os.path.join(events_file, f),
                        os.path.join(src, f"{tag}_{f}"),
                    )
        else:
            shutil.copy(events_file, os.path.join(src, f"{tag}.parquet"))

    stage_batch("batch_a")
    run_once()
    stage_batch("batch_b")
    written = run_once()
    return (
        spark.read.schema(written)
        .parquet(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
