"""Category A — scans, sources, sinks (SURVEY.md §2.A).

Scale posture: projections/filters are expressed on the scan DataFrame so
Catalyst pushes them into the parquet reader (ReadSchema pruning +
PushedFilters row-group skipping) — verified by plan assertions in
tests/test_plans.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.plans.determinism import money_sum_fast
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    SCHEMAS,
    load,
    local_frame,
    register_views,
    scratch_dir,
    slot_width,
)


@register(
    "scan_parquet_full",
    "A",
    oracle="SELECT r_regionkey, r_name FROM region",
    doc="Full parquet scan with stable (pinned) column order.",
)
def scan_parquet_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "region")


@register(
    "scan_projection",
    "A",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
    doc="Column-pruned scan — ReadSchema must contain only the two columns.",
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "scan_pushdown_filter",
    "A",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-06-01'
    """,
    doc="Predicate pushed to parquet row-groups (PushedFilters).",
)
def scan_pushdown_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@register(
    "scan_events_ns",
    "A",
    oracle="SELECT event_id, ts FROM events",
    doc=(
        "events-timestamp ingestion: TIMESTAMP(NANOS) fixtures read via "
        "nanosAsLong + timestamp_micros(ts div 1000) (DuckDB truncates "
        "ns→µs identically, SURVEY.md §0 P1); TIMESTAMP(MICROS) fixtures "
        "read natively — load() dispatches on the resolved dtype."
    ),
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select("event_id", "ts")


@register(
    "sink_view_sql",
    "A",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
    """,
    doc="Temp-view registration + SQL entry point (SURVEY.md §3 entry 2).",
)
def sink_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


@register(
    "src_csv_roundtrip",
    "A",
    oracle="SELECT * FROM nation",
    doc=(
        "CSV sink + schema-given re-read. Oracle-tier: nation is all "
        "long/string columns, so the text round-trip is lossless and the "
        "re-read must hash-match the base table exactly (quoting/escaping "
        "included)."
    ),
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_csv_")
    nation = load(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(SCHEMAS["nation"]).option("header", "true").csv(out)


@register(
    "src_json_roundtrip",
    "A",
    oracle="SELECT * FROM customer",
    doc=(
        "JSON-lines sink + re-read with pinned schema. Oracle-tier: "
        "doubles serialize via shortest-round-trip repr and every other "
        "customer column is long/string, so the re-read hash-matches the "
        "base table bit-for-bit."
    ),
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_json_")
    customer = load(spark, sf_dir, "customer")
    customer.write.mode("overwrite").json(out)
    return spark.read.schema(SCHEMAS["customer"]).json(out)


@register(
    "src_orc_roundtrip",
    "A",
    oracle="SELECT * FROM part",
    doc=(
        "ORC sink + re-read (second columnar format). Oracle-tier: ORC is "
        "a typed binary format — the re-read must hash-match the base "
        "table exactly."
    ),
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_orc_")
    part = load(spark, sf_dir, "part")
    part.write.mode("overwrite").orc(out)
    return spark.read.schema(SCHEMAS["part"]).orc(out)


@register(
    "sink_bucketed_join",
    "A",
    oracle="""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc=(
        "Bucketed tables + co-located join: orders and customer written "
        "bucketed by customer key (8 buckets, external tables), then joined "
        "bucket-to-bucket — NO shuffle on either side (asserted in "
        "tests/test_plans.py). This is the 100 TB pattern for repeated "
        "fact⋈dim joins on a stable key: pay the shuffle once at write "
        "time, never again at read time. Oracle-tier: the bucketed "
        "round-trip + join must hash-match the direct join of the base "
        "tables."
    ),
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    # Fresh names per call: an earlier call's frame still reads its tables.
    tag = uuid.uuid4().hex[:8]
    o_tbl, c_tbl = f"orders_b_{tag}", f"customer_b_{tag}"
    base = scratch_dir("bdma_bucket_")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    (
        o.write.mode("overwrite")
        .option("path", os.path.join(base, o_tbl))
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(o_tbl)
    )
    (
        c.write.mode("overwrite")
        .option("path", os.path.join(base, c_tbl))
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(c_tbl)
    )
    ob, cb = spark.table(o_tbl), spark.table(c_tbl)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "sink_parquet_partitioned",
    "A",
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_type = 'purchase'
    """,
    doc=(
        "Partitioned parquet sink + partition-pruned re-read: writes events "
        "partitioned by event_type, reads back one partition (the filter "
        "prunes directories, not row-groups). Oracle-tier: the parquet "
        "round-trip is lossless, so the pruned re-read hash-matches a "
        "direct filter of the base table."
    ),
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_part_")
    events = load(spark, sf_dir, "events")
    events.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.schema(events.schema).parquet(out)
    return back.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "value"
    )


# sink_compaction's fragmented-ingest file count (its oracle's n_files_before).
_FRAGMENTS = 64


def _fragment_writers(n: int, splits: int, width: int) -> tuple[int, int]:
    """``(k, cap)``: write ``n`` rows read from ``splits`` non-empty input
    splits as exactly ``_FRAGMENTS`` files from ``k`` round-robin writers
    (``repartition(k)``), at most ``cap`` rows per file.

    Round-robin deals split p's rows over the k writers from its own
    start, so each writer gets floor(n_p/k) or ceil(n_p/k) of them; summed
    over the splits, with skew = (splits - 1)(k - 1), a writer's share
    lies in [floor((n - skew)/k), ceil((n + skew)/k)]. With
    cap = ceil((n + skew)/_FRAGMENTS), _FRAGMENTS/k files of cap rows hold
    the largest share, and the smallest share needs all of them whenever
    n - skew >= (_FRAGMENTS - k) * cap + k. ``k`` is the largest power of
    two <= min(width, _FRAGMENTS) that meets this, else 1 (no skew; exact
    for every n > 63 * 64)."""
    k = 1 << (min(width, _FRAGMENTS).bit_length() - 1)
    while True:
        skew = (splits - 1) * (k - 1)
        cap = -(-(n + skew) // _FRAGMENTS)
        if k == 1 or n - skew >= (_FRAGMENTS - k) * cap + k:
            return k, cap
        k //= 2


@register(
    "sink_compaction",
    "A",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(64 AS BIGINT) AS n_files_before,
               CAST(COUNT(*) AS BIGINT) AS n_rows_after,
               CAST(GREATEST(1, CEIL(COUNT(*) / 200000.0)) AS BIGINT)
                   AS n_files_after
        FROM lineitem
    """,
    doc=(
        "Small-file compaction — the lakehouse OPTIMIZE/bin-packing "
        "maintenance pass a 100 TB table needs after streaming or "
        "fine-grained-partitioned ingest: a deliberately fragmented copy "
        "of lineitem (64 small files) is rewritten to ceil(rows / 200k) "
        "right-sized files. The fragmented ingest writes its 64 files "
        "from k round-robin writer tasks, each file capped at cap rows "
        "(maxRecordsPerFile). Round-robin deals each of the m non-empty "
        "input splits from its own start, so with s = (m - 1)(k - 1) a "
        "writer's share lies in [floor((n - s)/k), ceil((n + s)/k)]; with "
        "cap = ceil((n + s)/64) every writer writes exactly 64/k files "
        "whenever n - s >= (64 - k) * cap + k. k is the largest power of "
        "two <= min(slot width, 64) that meets this bound, else 1 (exact "
        "for every n > 4,032). At m = 1 the bound is (64/k - 1) * "
        "ceil(n/64) < floor(n/k), true for every n > 64 * (64/k): 1,024 "
        "rows at k=4. n and m are measured in one job. The id raises if "
        "the ingest measures any other count. The target file count is "
        "derived from the ROW count (deterministic; at a fixed schema "
        "rows proxy bytes — real systems aim ~128 MiB/file the same "
        "way), and _metadata.file_path "
        "counts physical files on each side. Row counts must survive "
        "both rewrites (asserted in tests). Oracle-tier: the oracle "
        "PREDICTS the measured file counts from the row count alone — "
        "the Spark side measures them physically, so a lost row or a "
        "mis-packed file hash-mismatches."
    ),
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    frag_dir = scratch_dir("bdma_frag_")
    compact_dir = scratch_dir("bdma_compact_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    # Fragmented ingest: 64 files from k slot-many writers, 64/k files
    # each (bound in the doc and _fragment_writers). 64 writer tasks would
    # each pay a fixed ~60 ms (task state with the Hadoop conf, a forked
    # chmod per file without Hadoop's native IO) for a few KB of rows.
    # spark_partition_id() is nondeterministic, so it may not be an
    # aggregate's argument; the select computes it first.
    n, splits = (
        li.select(F.spark_partition_id().alias("split"))
        .agg(F.count(F.lit(1)), F.size(F.collect_set("split")))
        .first()
    )
    k, cap = _fragment_writers(n, splits, slot_width(spark))
    (
        li.repartition(k)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", cap)
        .parquet(frag_dir)
    )

    def rows_and_files(df: DataFrame) -> tuple[int, int]:
        # One aggregate job per side: row count and physical file count.
        # collect_set needs one shuffle where count_distinct needs two.
        return tuple(
            df.agg(
                F.count(F.lit(1)),
                F.size(F.collect_set(F.col("_metadata.file_path"))),
            ).first()
        )

    frag = spark.read.schema(li.schema).parquet(frag_dir)
    n_rows, files_before = rows_and_files(frag)
    if files_before != _FRAGMENTS:
        raise RuntimeError(
            f"fragmented ingest wrote {files_before} files of {n_rows} rows "
            f"from {k} writers over {splits} input splits, not {_FRAGMENTS}"
        )
    # Compact: bin-pack to ~200k rows per file (schema-fixed row→byte
    # proxy; a real table would target ~128 MiB the same way).
    n_out = max(1, math.ceil(n_rows / 200_000))
    frag.repartition(n_out).write.mode("overwrite").parquet(compact_dir)

    compact = spark.read.schema(li.schema).parquet(compact_dir)
    rows = [(n_rows, files_before, *rows_and_files(compact))]
    return local_frame(
        spark,
        rows,
        "n_rows long, n_files_before long, n_rows_after long, n_files_after long",
    )


@register(
    "src_text_roundtrip",
    "A",
    oracle=r"""
        SELECT CAST(length(text) AS INT) AS n_chars,
               CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens
        FROM documents
    """,
    doc=(
        "Line-text source: document texts written as .txt lines (newlines "
        "stripped — text files are line-delimited by definition; fixture "
        "texts contain none, so the strip is identity) and re-read with "
        "spark.read.text. Oracle-tier: per-line char/token counts must "
        "multiset-match the base table's."
    ),
)
def src_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_text_")
    docs = load(spark, sf_dir, "documents")
    docs.select(
        F.regexp_replace("text", r"[\r\n]+", " ").alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    return lines.select(
        F.length("value").alias("n_chars"),
        F.size(F.split("value", r"\s+")).alias("n_tokens"),
    )


@register(
    "scan_metadata_cols",
    "A",
    oracle="""
        SELECT 'lineitem.parquet' AS file_name,
               COUNT(*)::BIGINT AS n_rows
        FROM lineitem
    """,
    doc=(
        "Hidden file metadata (_metadata.file_path): scan-level provenance "
        "a 100 TB lakehouse audit relies on. Rows group by the TABLE-level "
        "path segment (the first segment UNDER sf_dir ending in .parquet — "
        "anchored so an ancestor directory of sf_dir that itself ends in "
        ".parquet can never hijack the rollup, ADVICE r7), so the check "
        "is layout-independent: a single-file fixture and a multi-file "
        "directory (tools/make_multifile.py) both roll up to "
        "('lineitem.parquet', 60000) while the per-file metadata column is "
        "still what feeds the aggregation."
    ),
)
def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    li = load(spark, sf_dir, "lineitem")
    # _metadata.file_path is an absolute URI (file:/...); anchor the
    # table-segment extraction at sf_dir's basename followed by the
    # table entry, not at the leftmost *.parquet in the whole path.
    # Anchor on EITHER the as-given (abspath) or the resolved (realpath)
    # basename: Spark 4.1.2 records the AS-GIVEN path (ADVICE r9 —
    # reading via a symlinked dir yields the symlink's name, so a pure
    # realpath anchor never matches there), while an sf_dir handed to us
    # already-resolved still matches via the realpath alternative. The
    # residual failure modes (URI percent-encoding, an unresolvable
    # anchor) are made loud instead of silent by the raise_error guard
    # below.
    anchors = sorted(
        {
            _re.escape(os.path.basename(os.path.abspath(sf_dir))),
            _re.escape(os.path.basename(os.path.realpath(sf_dir))),
        }
    )
    fname = F.regexp_extract(
        F.col("_metadata.file_path"),
        rf"/(?:{'|'.join(anchors)})/([^/]+\.parquet)(?:/|$)",
        1,
    )
    # The guard rides INSIDE the projected expression (when/raise_error),
    # not as a separate dropped column — Catalyst would prune a dead
    # assert_true column and the check would silently vanish.
    guarded = F.when(fname != "", fname).otherwise(
        F.raise_error(
            F.concat(
                F.lit("scan_metadata_cols: anchor not found in "),
                F.col("_metadata.file_path"),
            )
        )
    )
    return (
        li.select(guarded.alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "sql_scalar_subquery",
    "A",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
    """,
    doc=(
        "Scalar subquery through the SQL entry point: Catalyst plans the "
        "subquery as an independent stage and folds its single value into "
        "the filter (no per-row re-evaluation). The threshold is a 1.5x-avg "
        "cut (~25% selectivity), far from any float boundary, so the double avg is safe to "
        "compare as a predicate (no output floats)."
    ),
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "sql_exists_correlated",
    "A",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        )
    """,
    doc=(
        "Correlated EXISTS / NOT EXISTS through the SQL entry point — "
        "Catalyst decorrelates to a left-semi plus left-anti join (§4 "
        "subquery decorrelation); same SQL runs verbatim on the oracle."
    ),
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        )
        """
    )


@register(
    "sql_recursive_cte",
    "A",
    oracle="""
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP '2001-12-01'
        )
        SELECT STRFTIME(m, '%Y-%m') AS ym,
               COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON DATE_TRUNC('month', o_orderdate) = m
        GROUP BY ym
    """,
    doc=(
        "Recursive CTE (Spark 4 WITH RECURSIVE): build an 84-month calendar "
        "spine by recursion, left-join order counts onto it - months with "
        "zero orders survive with 0. Recursion depth 84 sits well under "
        "Spark's default 100-level limit; the spine is a driver-side-tiny "
        "relation broadcast against the fact table."
    ),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP '2001-12-01'
        )
        SELECT DATE_FORMAT(m, 'yyyy-MM') AS ym,
               COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON DATE_TRUNC('MONTH', o_orderdate) = m
        GROUP BY ym
        """
    )


@register(
    "sql_lateral_topk",
    "A",
    oracle="""
        SELECT s.c_mktsegment, l.o_orderkey, l.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = s.c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) l
    """,
    doc=(
        "Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 orders "
        "per market segment. Catalyst decorrelates the lateral into a "
        "ranked window join - same result as the QUALIFY pattern but "
        "expressed in the per-group subquery idiom."
    ),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(
        """
        SELECT s.c_mktsegment, l.o_orderkey, l.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = s.c_mktsegment
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) l
        """
    )


@register(
    "sql_pipe_syntax",
    "A",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem
        WHERE l_quantity < 25
        GROUP BY l_returnflag
    """,
    doc=(
        "Spark 4 SQL pipe syntax (|> WHERE / |> AGGREGATE): the same "
        "logical plan as the classic formulation — Catalyst parses pipes "
        "into ordinary operators, so pushdown/pruning/codegen are "
        "identical (verified: the oracle runs the classic SQL)."
    ),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity < 25
        |> AGGREGATE COUNT(*) AS n_lines,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         AS sum_qty
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_lines, sum_qty
        """
    )


@register(
    "sql_groupby_all",
    "A",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM lineitem
        GROUP BY ALL
    """,
    doc=(
        "GROUP BY ALL (Spark 3.4+ / DuckDB shared SQL surface): the "
        "grouping key set is inferred as every non-aggregate select "
        "item, removing the classic copy-the-select-list maintenance "
        "hazard. Catalyst resolves it to an ordinary Aggregate during "
        "analysis, so the physical plan (partial + final hash "
        "aggregate) is byte-identical to the explicit GROUP BY form — "
        "pure parser surface, zero plan cost. Money in integer cents "
        "per the determinism conventions."
    ),
)
def sql_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM lineitem
        GROUP BY ALL
        """
    )


@register(
    "sql_lateral_alias",
    "A",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS price_cents,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(l_quantity AS BIGINT) AS ext_cents,
               CASE WHEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                         * CAST(l_quantity AS BIGINT) > 100000000
                    THEN 'big' ELSE 'small' END AS tier
        FROM lineitem
    """,
    doc=(
        "LATERAL COLUMN ALIAS references (Spark 3.4+ / DuckDB shared "
        "surface): select items reference earlier aliases of the SAME "
        "select list (ext_cents builds on price_cents and qty; tier on "
        "ext_cents), killing the copy-the-expression pyramid. The "
        "analyzer inlines the aliases into one Project — the oracle "
        "states the fully-expanded classic form and hash-matches, "
        "proving pure parser sugar with zero plan cost. Exact integer "
        "cents per the determinism conventions."
    ),
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS price_cents,
               CAST(l_quantity AS BIGINT) AS qty,
               price_cents * qty AS ext_cents,
               CASE WHEN ext_cents > 100000000 THEN 'big' ELSE 'small' END
                   AS tier
        FROM lineitem
        """
    )


@register(
    "sql_unpivot",
    "A",
    oracle="""
        WITH base AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'n_lines' AS metric, n_lines AS val FROM base
        UNION ALL
        SELECT l_returnflag, 'sum_qty', sum_qty FROM base
    """,
    doc=(
        "SQL UNPIVOT clause (Spark 3.4+ wide→long in the parser, the "
        "inverse of agg_pivot): metric columns melt into (metric, val) "
        "rows. Catalyst expands UNPIVOT to the same Expand node the "
        "stack() function builds (agg_unpivot is the expression-API "
        "twin) — the oracle states the UNION ALL expansion and "
        "hash-matches, pinning both the NULL-dropping default and "
        "column naming. Pure parser surface over a bounded summary."
    ),
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, metric, val
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY l_returnflag
        )
        UNPIVOT (val FOR metric IN (n_lines, sum_qty))
        """
    )


@register(
    "meta_table_stats",
    "A",
    oracle="""
        SELECT 'region' AS tbl, COUNT(*) AS n FROM region
        UNION ALL SELECT 'nation', COUNT(*) FROM nation
        UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        UNION ALL SELECT 'part', COUNT(*) FROM part
        UNION ALL SELECT 'customer', COUNT(*) FROM customer
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'events', COUNT(*) FROM events
        UNION ALL SELECT 'documents', COUNT(*) FROM documents
        UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
    doc=(
        "Catalog-style table statistics: row counts for every table of "
        "the star schema in one relation - each count is a "
        "metadata-only parquet aggregate (Spark reads footer row counts, "
        "no data scan: LocalTableScan/statistics path), the pattern "
        "behind catalog dashboards over petabyte lakes."
    ),
)
def meta_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    tables = (
        "region nation supplier part customer orders lineitem events "
        "documents embeddings"
    ).split()
    parts = [
        load(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(t).alias("tbl"), "n")
        for t in tables
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "src_xml_roundtrip",
    "A",
    oracle="""
        SELECT r_regionkey, r_name FROM region
    """,
    doc=(
        "Spark-4 built-in XML source: region written as <row> elements "
        "and re-read with the pinned schema. With the explicit read "
        "schema the round-trip is lossless for the region columns "
        "(ints + escaped strings), so the oracle states the identity "
        "directly from the base table — any reader/writer mangling "
        "(entity escaping, whitespace, type coercion) breaks the hash. "
        "The same reader handles multi-GB XML dumps split by rowTag at "
        "100 TB — no external package."
    ),
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_xml_")
    region = load(spark, sf_dir, "region")
    region.write.mode("overwrite").format("xml").option("rootTag", "regions").option(
        "rowTag", "region"
    ).save(out)
    return (
        spark.read.schema(SCHEMAS["region"])
        .format("xml")
        .option("rowTag", "region")
        .load(out)
    )


@register(
    "xml_functions",
    "H",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey, TRUE AS roundtrip_ok
        FROM nation
    """,
    doc=(
        "Scalar XML functions (Spark 4 to_xml/from_xml): each nation row "
        "serializes to an XML fragment and parses back; the output is the "
        "PARSED fields, which must equal the originals — a round-trip "
        "identity the DuckDB oracle states directly from the base table. "
        "Map-only, no shuffle."
    ),
)
def xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    xml = F.to_xml(
        F.struct("n_nationkey", "n_name", "n_regionkey"),
        {"rowTag": "nation"},
    )
    parsed = F.from_xml(
        xml, "n_nationkey BIGINT, n_name STRING, n_regionkey INT"
    )
    return n.select(parsed.alias("p")).select(
        F.col("p.n_nationkey").alias("n_nationkey"),
        F.col("p.n_name").alias("n_name"),
        F.col("p.n_regionkey").alias("n_regionkey"),
        F.lit(True).alias("roundtrip_ok"),
    )


@register(
    "sql_parameterized",
    "A",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_totalprice > 50000
        GROUP BY o_orderpriority
    """,
    doc=(
        "Parameterized SQL (spark.sql named-parameter binding): the "
        ":min_price marker binds server-side — injection-safe and "
        "plan-cache friendly — and resolves to the same plan as the "
        "literal formulation the oracle runs."
    ),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"min_price": 50000},
    )


@register(
    "sink_table_versions",
    "A",
    oracle="""
        WITH v2 AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100
                        ELSE c_acctbal END AS c_acctbal
            FROM customer
            WHERE NOT (c_custkey % 10 = 0)
        )
        SELECT 1 AS version, COUNT(*) AS n_rows,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_acctbal
        FROM customer
        UNION ALL
        SELECT 2 AS version, COUNT(*) AS n_rows,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_acctbal
        FROM v2
        ORDER BY version
    """,
    doc=(
        "Snapshot versioning with as-of reads (time travel without a "
        "transactional table format): v1 = the customer base written as "
        "a full parquet snapshot; a derived changelog (okey%10: 0=delete, "
        "1=update +100) applies onto it and the result is written as the "
        "v2 snapshot in a sibling directory. Both versions are then read "
        "BACK FROM DISK and summarized — per-version row count and exact "
        "cents balance, hash-verified against an oracle that derives "
        "both versions from the fixture. The version-directory layout is "
        "Delta/Iceberg's reader view flattened to plain parquet: readers "
        "pin a snapshot path, writers only ever add directories."
    ),
)
def sink_table_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.plans.determinism import cents

    base = scratch_dir("bdma_versions_")

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    c.write.mode("overwrite").parquet(f"{base}/v=1")

    v1 = spark.read.schema(c.schema).parquet(f"{base}/v=1")
    v2 = v1.filter((F.col("c_custkey") % 10) != 0).select(
        "c_custkey",
        "c_name",
        F.when((F.col("c_custkey") % 10) == 1, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    v2.write.mode("overwrite").parquet(f"{base}/v=2")

    def summarize(version: int, snap: DataFrame) -> DataFrame:
        return snap.agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(cents("c_acctbal")) / 100.0).cast("double").alias(
                "total_acctbal"
            ),
        )

    v2_back = spark.read.schema(v2.schema).parquet(f"{base}/v=2")
    return summarize(1, v1).unionByName(summarize(2, v2_back)).orderBy("version")


@register(
    "scan_schema_evolution",
    "A",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
                   AS n_with_priority,
               CAST(COUNT(DISTINCT o_orderpriority)
                    FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
                   AS n_priorities,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_totalprice
        FROM orders
    """,
    doc=(
        "Schema evolution on read: two parquet batches with DIFFERENT "
        "schemas (the second adds o_orderpriority) land in one directory "
        "— the ingest-pipeline reality when producers upgrade — and "
        "mergeSchema=true reconciles them, back-filling the missing "
        "column with NULL for old files. The audit aggregate proves the "
        "semantics: every row survives, exactly the new-batch rows carry "
        "the added column, and the exact-cents total matches the base "
        "table. At 100 TB schema merge costs one footer read per file "
        "(no data rewrite) — the point of evolution-on-read. Oracle "
        "predicts all four numbers from the base orders table."
    ),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("bdma_evo_")
    o = load(spark, sf_dir, "orders")
    old_batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new_batch = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old_batch.write.mode("overwrite").parquet(out + "/b=0")
    new_batch.write.mode("overwrite").parquet(out + "/b=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/b=0", out + "/b=1"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
        ).alias("n_with_priority"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        money_sum_fast("o_totalprice", "sum_totalprice"),
    )


@register(
    "join_dpp_prune",
    "C",
    oracle="""
        WITH dim AS (
            SELECT event_type FROM events GROUP BY event_type
            HAVING COUNT(*) > (SELECT COUNT(*) / 5.0 FROM events)
        )
        SELECT e.event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events e SEMI JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
    doc=(
        "Dynamic partition pruning: the fact side is a freshly written "
        "event_type-partitioned parquet table; the dim side (types with "
        "above-average frequency) is data-derived, so the partition "
        "filter CANNOT fold at plan time — Spark injects a runtime "
        "dynamicpruning subquery into the scan's PartitionFilters and "
        "skips the non-qualifying directories entirely (plan-asserted). "
        "THE mechanism that makes star joins on a 100 TB partitioned "
        "fact read only the matching partitions. Exact-cents sums; "
        "oracle replays the same above-average rule."
    ),
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.sources.session import tune

    out = scratch_dir("bdma_dpp_")
    ev = load(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out + "/fact")
    # Materialized dim with an INDEPENDENT attribute (tier): the DPP rule
    # requires a likely-selective attribute-vs-literal predicate on the
    # dim side, and tier never exists on the fact, so no static constraint
    # propagation can pre-prune — the partition filter truly arrives at
    # runtime.
    total = ev.agg((F.count(F.lit(1)) / 5.0).alias("th"))
    tiers = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            F.when(F.col("cnt") > F.col("th"), F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("tier"),
        )
    )
    tiers.write.mode("overwrite").parquet(out + "/dim")
    # Isolated-conf clone (the join_runtime_bloom pattern): DPP's cost
    # model skips pruning for fixture-tiny scans; pin the decision confs
    # on a session whose overrides cannot leak.
    s = tune(spark.newSession())
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "50"
    )
    fact = s.read.schema(ev.schema).parquet(out + "/fact")
    dim = (
        s.read.schema(tiers.schema)
        .parquet(out + "/dim")
        .filter(F.col("tier") == "hot")
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_fast("value", "sum_value"),
        )
    )


# Taken at import, because the static oracle text reads the same files
# Spark writes; each call rewrites them.
_BINARYFILE_DIR = scratch_dir("bdma_binaryfile_")


@register(
    "src_binaryfile",
    "A",
    oracle=f"""
        SELECT regexp_extract(filename, 'lang=([a-z]+)', 1) AS lang,
               CAST(size AS BIGINT) AS n_bytes,
               md5(decode(content)) AS content_md5
        FROM read_blob('{_BINARYFILE_DIR}/lang=*/*.txt')
    """,
    doc=(
        "Spark's binaryFile source — the whole-file ingest path a "
        "multimodal pipeline uses for images/audio blobs: one per-lang "
        "corpus file is written (content deterministic: texts joined in "
        "doc_id order), then read back as (path, length, content) and "
        "fingerprinted JVM-side (md5 over raw bytes, partition dir "
        "parsed from the path). The oracle reads the SAME files with "
        "DuckDB's read_blob and must reproduce size and digest "
        "byte-for-byte — verifying the writer+reader round-trip, not "
        "replaying it. Scale posture: binaryFile parallelizes at file "
        "granularity and caps per-file size (spark.sql.sources."
        "binaryFile.maxLength); a 100 TB media corpus shards into "
        "many files, so parallelism = file count. Local-path caveat: "
        "executors and driver share a filesystem here; a cluster run "
        "points the same two-liner at object storage."
    ),
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    content = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "\n",
    )
    per_lang = d.groupBy("lang").agg(content.alias("value"))
    per_lang.select("value", "lang").write.partitionBy("lang").mode(
        "overwrite"
    ).text(_BINARYFILE_DIR)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(_BINARYFILE_DIR)
    )
    return bf.select(
        F.regexp_extract("path", "lang=([a-z]+)", 1).alias("lang"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "src_csv_corrupt",
    "A",
    oracle="""
        SELECT CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_good,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bad,
               CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN doc_id ELSE 0 END)
                    AS BIGINT) AS sum_id_good,
               CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS sum_n_good
        FROM documents
    """,
    doc=(
        "Malformed-row ingestion (PERMISSIVE mode): a CSV corpus is "
        "written with every odd doc_id's line deliberately broken "
        "(wrong delimiter, unparseable numeric), then read back with a "
        "typed schema + columnNameOfCorruptRecord — the quarantine "
        "pattern every production ingest needs (bad rows land in the "
        "corrupt column instead of killing the job or silently "
        "vanishing). The construction is deterministic, so the oracle "
        "derives the expected good/bad split and good-row sums straight "
        "from the source table: a hash match proves EVERY malformed "
        "line was quarantined and EVERY valid line parsed to the exact "
        "values. Map-only both directions; file-granular parallelism."
    ),
)
def src_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat_ws(",", F.col("doc_id"), F.col("n_chars")),
    ).otherwise(F.concat(F.col("doc_id"), F.lit(";broken")))
    out = scratch_dir("bdma_csv_corrupt_")
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("id BIGINT, n BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    good = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.sum(F.when(good, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("bigint").alias("n_bad"),
        F.sum(F.when(good, F.col("id")).otherwise(0))
        .cast("bigint")
        .alias("sum_id_good"),
        F.sum(F.when(good, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("sum_n_good"),
    )


@register(
    "scan_corrupt_files_skip",
    "A",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM documents
    """,
    doc=(
        "Corrupt-file resilience: the documents table is re-written as "
        "parquet next to a PLANTED garbage file (truncated magic bytes), "
        "then scanned with spark.sql.files.ignoreCorruptFiles=true via "
        "the per-read option — the operational knob that keeps a 100 TB "
        "scan alive when one object in a million is damaged, instead of "
        "failing the whole job hours in. The oracle aggregates the "
        "source table directly, so a hash match proves the reader "
        "skipped EXACTLY the corrupt file: nothing lost from good "
        "files, nothing hallucinated from the bad one. (Read-option "
        "scoped — no session conf mutation, concurrency-safe.)"
    ),
)
def scan_corrupt_files_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    out = scratch_dir("bdma_corrupt_skip_")
    d.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x13\x37not a real parquet footer")
    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@register(
    "sql_window_clause",
    "A",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    OVER w AS BIGINT) AS running_cents,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   - CAST(LAG(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                          OVER w AS BIGINT) AS delta_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc=(
        "NAMED WINDOW CLAUSE (WINDOW w AS ...): three analytic "
        "functions share ONE window definition — the SQL surface that "
        "kills the copy-the-spec hazard the same way GROUP BY ALL "
        "kills the copy-the-select-list one (sql_groupby_all's "
        "sibling). Catalyst resolves the named spec during analysis "
        "and the shared (partition, order) collapses all three "
        "functions into a single Window physical operator — one sort, "
        "one pass, identical to the inline-spec plan; pure parser "
        "surface. Per-customer partitioning keeps parallelism = "
        "customer count; money in integer cents."
    ),
)
def sql_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    OVER w AS BIGINT) AS running_cents,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   - CAST(LAG(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                          OVER w AS BIGINT) AS delta_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )


@register(
    "sql_order_by_all",
    "A",
    oracle="""
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(MIN(n_nationkey) AS INT) AS first_nation
        FROM nation
        GROUP BY ALL
        ORDER BY ALL
    """,
    doc=(
        "ORDER BY ALL (Spark 4 / DuckDB shared SQL surface): the "
        "result orders by every select item left-to-right without "
        "restating the list — the ergonomic completion of GROUP BY ALL "
        "(sql_groupby_all). Catalyst resolves it to an ordinary Sort "
        "during analysis; on the 25-row nation aggregate the sort is "
        "trivially cheap, and the driver's order-insensitive hash "
        "means correctness never depends on it — the operator exists "
        "to pin the parser surface cross-engine."
    ),
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("nation",))
    return spark.sql(
        """
        SELECT n_regionkey,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               CAST(MIN(n_nationkey) AS INT) AS first_nation
        FROM nation
        GROUP BY ALL
        ORDER BY ALL
        """
    )
