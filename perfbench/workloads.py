"""The benchmark's workloads: which registry ids each one runs, and on what data.

Every workload reads the committed sf0.01 fixture copy under ``data/`` (the
same deterministic tables the DuckDB differential uses), so a checkout holds
everything a run needs. The run seed only permutes the order of ids inside
each pass; the inputs themselves never change.
"""

from __future__ import annotations

import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Relational read path: parquet scans, joins, aggregates and windows,
    # plus the two-pass scaffold via agg_abc_analysis. No Python boundary.
    "tpch_olap": (
        "scan_pushdown_filter",
        "agg_pricing_summary",
        "join_star_5way",
        "win_topk_per_group",
        "win_running_sum",
        "tpch_q3_shipping",
        "tpch_q9_profit",
        "tpch_q18_bigorders",
        "tpch_q21_waiting",
        "agg_abc_analysis",
        "stream_tumbling_batch",
    ),
    # The functions layer: Arrow/pandas UDF boundary (knn, pca, phash), the
    # driver-eager iterative loop of llm_dedup_components, bloom and minhash.
    "llm_pipeline": (
        "llm_text_tfidf",
        "llm_dedup_minhash",
        "llm_sim_knn",
        "llm_embed_pca",
        "mm_phash_neardup",
        "llm_dedup_components",
        "llm_contamination_bloom",
    ),
    # The sources layer the other way round: eager writes inside each fn
    # call beside the reads, so a scan or layout change that costs writes
    # shows here.
    "etl_sinks": (
        "sink_parquet_partitioned",
        "sink_compaction",
        "sink_bucketed_join",
        "src_csv_roundtrip",
        "src_json_roundtrip",
        "src_orc_roundtrip",
        "sink_table_versions",
    ),
}


def pass_orders(workload: str, seed: int):
    """Yield one id order per pass, each a seeded permutation of the ids.

    The generator is infinite; the same (workload, seed) always yields the
    same sequence of orders.
    """
    rng = random.Random(f"{workload}:{seed}")
    ids = list(WORKLOADS[workload])
    while True:
        rng.shuffle(ids)
        yield tuple(ids)
