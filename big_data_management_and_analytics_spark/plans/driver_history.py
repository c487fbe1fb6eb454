"""Per-round driver-verification history.

The driver's correctness pass (CORRECTNESS_r{N}.json) verifies the FIRST
~50 ids yielded by ``__spark_entry__.queries()`` each round — registration
order is the queue. To get every SURVEY §2 operator a driver-green row,
``__spark_entry__`` re-orders the queue each round so ids that have never
reached a CORRECTNESS file enqueue first (SURVEY §2 oracle-tier ids ahead
of extras, rows-tier last within the unverified block).

The verified set is derived DYNAMICALLY at queries() time by globbing the
``CORRECTNESS_r*.json`` files the driver writes next to
``__spark_entry__.py`` and unioning their key sets — so each new round's
green rows automatically drop out of the queue prefix with no manual
bookkeeping (round-2 verdict item 1: the previous hardcoded frozenset
would have made round 3 re-verify round 2's exact 50 ids).

Coverage plan at the observed ~50-ids/round driver cap (tier-aware;
simulate with ``tools/queue_sim.py`` against the live registry for exact
counts — the registry grows within rounds, so hardcoded totals here
would go stale):
- r01+r02 recorded 100 green rows (91 hash, 9 rows-only); the round-3
  oracle-upgrade sweep gave several of those rows-only ids oracles, so
  they re-queue for the hash check. Round 3's prefix holds every
  tier-unverified SURVEY §2 id first → 127/127 §2 green at the proper
  tier after r03.
- Subsequent rounds drain the extras, oracle-tier first (prio 2
  before 3), ~50 per round until the whole registry is driver-green.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

# Fallback snapshot: keys of CORRECTNESS_r01.json (driver round 1).
# Only used if no CORRECTNESS_r*.json file is readable at runtime.
VERIFIED_R01: frozenset[str] = frozenset(
    {
        "src_custom_datasource",
        "src_stream_datasource",
        "scan_parquet_full",
        "scan_projection",
        "scan_pushdown_filter",
        "scan_events_ns",
        "sink_view_sql",
        "src_csv_roundtrip",
        "src_json_roundtrip",
        "src_orc_roundtrip",
        "sink_bucketed_join",
        "sink_parquet_partitioned",
        "src_text_roundtrip",
        "scan_metadata_cols",
        "sql_scalar_subquery",
        "sql_exists_correlated",
        "sql_recursive_cte",
        "sql_lateral_topk",
        "meta_table_stats",
        "proj_compute",
        "filter_compound",
        "filter_null_semantics",
        "proj_case_when",
        "proj_distinct",
        "proj_cast_matrix",
        "proj_fillna_dropna",
        "proj_try_arith",
        "join_inner_equi",
        "join_left_outer",
        "join_right_outer",
        "join_full_outer",
        "join_left_semi",
        "join_left_anti",
        "join_broadcast_star",
        "join_star_5way",
        "join_theta_band",
        "join_cross",
        "join_self_succ",
        "join_salted_skew",
        "join_asof_event",
        "join_interval_pairs",
        "join_range_bucket",
        "join_hint_smj",
        "join_existence_flag",
        "join_asof_forward",
        "agg_pricing_summary",
        "agg_global",
        "agg_count_distinct",
        "agg_multi_distinct",
        "agg_having",
    }
)

# Repo root = two levels above this package (…/plans/ -> package -> repo).
_REPO_ROOT = Path(__file__).resolve().parent.parent.parent

# Ids whose implementation was re-engineered (plan changed, output proven
# identical via the DuckDB differential + exceptAll identity) in a round
# LATER than their newest driver-green CORRECTNESS record — VERDICT r11
# item 6: the driver oracle should confirm the new code on its next
# rotation rather than whenever plain staleness would get around to it.
# Each entry maps id -> the round whose code change awaits driver
# re-confirmation; :func:`reverify_staleness` fronts the id in the
# verified block until a CORRECTNESS round at/after that round records
# it green again, at which point the entry auto-expires (safe to prune).
# Maintain by hand whenever a round changes a driver-verified query's
# implementation.
REVERIFY_FIRST: dict[str, int] = {
    "graph_label_propagation": 11,
    "mkt_item_similarity": 12,  # r12 dual-direction fused pair aggregate
    # r13: the two-pass scan's counter fold moved to the driver (literal
    # prefix array instead of the triangle join / running-window fold).
    **dict.fromkeys(
        """agg_abc_analysis agg_auc_roc agg_equidepth agg_gini agg_ks_test
        agg_lift_chart agg_mannwhitney events_concurrency
        events_cumulative_uniques events_rfm feat_quantile_bin graph_hits
        llm_curriculum_order llm_dedup_near_exact llm_dedup_ssjoin
        skyline_pareto sort_multikey sort_natural win_ntile
        win_pct_cume""".split(),
        13,
    ),
    # r13: COMPONENTS_ORACLE_ROUNDS 8 -> 12 changes both the loop bound
    # and the declared oracle text (output is the same unique fixpoint).
    "llm_dedup_components": 13,
    # r13: spread() runs at min(shuffle partitions, defaultParallelism) and
    # driver-built frames became Arrow-path LocalTableScans. The list is
    # every oracle-tier id whose executed plans at tier-1 settings (8
    # shuffle partitions, local[4], sf0.01) differ from the parent's; the
    # four such ids already listed above are not repeated.
    **dict.fromkeys(
        """join_fuzzy_editdist join_runtime_bloom llm_bigram_kn
        llm_blocklist_filter llm_bm25_search llm_bpe_encode
        llm_bpe_pairs llm_containment_join llm_contamination
        llm_contamination_bloom llm_corpus_temperature
        llm_dataset_card llm_decontaminate llm_dedup_cluster_stats
        llm_dedup_incremental llm_dedup_minhash llm_dedup_shingle
        llm_dedup_simhash llm_dedup_substring
        llm_dedup_substring_rewrite llm_fingerprint_winnow
        llm_hybrid_rrf llm_index_persist llm_inverted_index
        llm_keyword_rake llm_lsh_tuning llm_minhash_accuracy
        llm_nb_langid llm_ngram_novelty llm_oov_rate llm_pii_redact
        llm_prefix_cache_sim llm_quality_gopher llm_rouge_l
        llm_text_ngram llm_text_perplexity llm_text_readability
        llm_text_tfidf llm_text_unigram_lm llm_text_wordcount
        llm_vocab_growth llm_watermark_greenlist llm_word_pmi
        obs_metrics sink_compaction str_split_explode
        stream_checkpoint_resume ts_periodogram""".split(),
        13,
    ),
    # r13: read-backs of just-written directories take the writer's schema
    # instead of inferring it. Their executed plans equal the parent's;
    # the inference job they no longer run was outside every execution,
    # where the plan diff cannot see it. The other changed ids
    # (sink_compaction, llm_index_persist, stream_checkpoint_resume) are
    # listed above.
    **dict.fromkeys(
        "join_dpp_prune sink_parquet_partitioned sink_table_versions".split(), 13
    ),
}


def reverify_staleness(name: str, last: int) -> int:
    """Effective staleness for a verified id: ids in REVERIFY_FIRST whose
    latest green round predates their recorded code-change round sort
    ahead of every ordinary verified id (the large negative offset
    preserves their relative order by true last-green round)."""
    changed = REVERIFY_FIRST.get(name)
    if changed is not None and last < changed:
        return last - 1_000_000
    return last


_ROUND_RE = re.compile(r"CORRECTNESS_r0*(\d+)\.json$")


def _green(rec) -> bool:
    """Whether one CORRECTNESS record is genuinely GREEN (VERDICT r10
    item 1: previously every key in a file counted as verified, so a red
    row — non-null ``err``, like ``events_feature_vector``'s r07
    canonicalizer crash — would both keep the id 'verified' and refresh
    its staleness to the failing round, sinking the failure to the back
    of the ~9-round rotation instead of re-fronting it). Green means:

    - ``err`` null AND a positive comparison (``hash_match`` for
      oracle-tier rows; ``rows_match`` covers synthetic rows-only
      records with no err field), or
    - ``err == 'no_oracle'`` AND ``spark_rows > 0`` — the driver's
      declared weaker rows-tier check.

    Anything else (hard errors, a 0-row rows-tier result, malformed
    records) stays out of BOTH latest maps, so a red row never advances
    an id's latest-green round: an id with no prior green re-queues as
    unverified (prio 0-5, front of the queue), and one with an old green
    keeps its old staleness and fronts the re-verification rotation."""
    if not isinstance(rec, dict):
        return False
    err = rec.get("err")
    if err is None:
        return rec.get("hash_match") is True or rec.get("rows_match") is True
    if err == "no_oracle":
        spark_rows = rec.get("spark_rows")
        return (
            isinstance(spark_rows, (int, float))
            and not isinstance(spark_rows, bool)
            and spark_rows > 0
        )
    return False


def driver_rounds(
    repo_root: Path | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """Scan every readable CORRECTNESS_r*.json in the repo root (where the
    driver writes them, next to ``__spark_entry__.py``) and return
    ``(latest_hash, latest_any)``: per-id latest round number with a
    hash-matched green record, and with any GREEN record at all
    (rows-only included; red rows never count — see :func:`_green`).
    The round number comes from the file name (``CORRECTNESS_r09`` → 9);
    a file whose name doesn't parse contributes round 0, which only makes
    its ids maximally stale — never lost. Empty dicts if no file is
    readable (callers fall back to the round-1 snapshot)."""
    root = repo_root if repo_root is not None else _REPO_ROOT
    latest_hash: dict[str, int] = {}
    latest_any: dict[str, int] = {}
    try:
        paths = sorted(root.glob("CORRECTNESS_r*.json"))
    except OSError:
        paths = []
    for p in paths:
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        m = _ROUND_RE.search(p.name)
        rnd = int(m.group(1)) if m else 0
        for k, rec in data.items():
            if not isinstance(k, str) or not _green(rec):
                continue
            latest_any[k] = max(latest_any.get(k, 0), rnd)
            if rec.get("hash_match") is True:
                latest_hash[k] = max(latest_hash.get(k, 0), rnd)
    return latest_hash, latest_any


def driver_history(
    repo_root: Path | None = None,
    rounds: tuple[dict[str, int], dict[str, int]] | None = None,
) -> tuple[frozenset[str], frozenset[str]]:
    """``(hash_green, any_green)``: ids whose recorded driver check
    hash-matched the oracle, and ids with any green record (including
    rows-only checks) — the key sets of :func:`driver_rounds`. Falls back
    to the round-1 snapshot (as any_green) if no CORRECTNESS file is
    readable so the queue still de-prioritizes the known-verified block.
    (A readable set of files with no green rows yields empty sets, not
    the fallback — same as before the round-10 staleness refactor.)
    Pass precomputed ``rounds`` (from one :func:`driver_rounds` call) to
    skip re-parsing every CORRECTNESS file (ADVICE r10: queue builds were
    parsing each file 2-3 times)."""
    root = repo_root if repo_root is not None else _REPO_ROOT
    latest_hash, latest_any = (
        rounds if rounds is not None else driver_rounds(repo_root)
    )
    if not latest_any:
        found = False
        try:
            for p in root.glob("CORRECTNESS_r*.json"):
                try:
                    if isinstance(json.loads(p.read_text()), dict):
                        found = True
                        break
                except (OSError, ValueError):
                    continue
        except OSError:
            pass
        if not found:
            return frozenset(), VERIFIED_R01
    return frozenset(latest_hash), frozenset(latest_any)


def driver_verified(repo_root: Path | None = None) -> frozenset[str]:
    """Ids with any green driver record (rows-only included)."""
    return driver_history(repo_root)[1]


def queue_order(
    registry,
    survey_ids: set[str],
    verified: frozenset[str] | None = None,
    repo_root: Path | None = None,
) -> list[str]:
    """Order query ids for the driver queue: never-verified SURVEY §2 ids
    first (oracle-tier before rows-tier), then the never-verified
    LLM/multimodal family (``llm_*``/``mm_*`` — the brief's mandated
    first-class training-data-pipeline operators, prioritized per the
    round-5 verdict item 1 so the driver verifies them before generic
    extras), then the remaining never-verified extras (oracle before rows
    within each block), then everything already verified — STALENESS-
    FIRST: ordered by the latest driver round that recorded the id green
    at its tier, oldest first, registration position as the tie-break
    (VERDICT r9 item 2: once the never-verified drain completes, every
    rotation slot goes to re-verification, and registration order would
    waste the round on whatever registered first — r3-fresh scan ids —
    while r1-verified ids sit 9 rounds stale; staleness ordering bounds
    every id's verification age at ~ceil(registry/cap) rounds). ALL §2
    ids outrank extras so the full §2 contract reaches driver-green in
    the fewest rounds.

    Tier-aware: an id "counts as verified" only at its CURRENT tier — an
    oracle-tier id needs a hash-green record; a rows-only record from a
    round before its oracle existed re-queues it for the hash check.
    Staleness reads the same tier's latest round."""
    if verified is not None:
        hash_green = any_green = verified
        latest_hash: dict[str, int] = {}
        latest_any: dict[str, int] = {}
    else:
        # One parse of the CORRECTNESS files per queue build (ADVICE r10):
        # derive the green sets from the same round maps.
        rounds = driver_rounds(repo_root)
        hash_green, any_green = driver_history(repo_root, rounds=rounds)
        latest_hash, latest_any = rounds

    def is_done(name: str) -> bool:
        q = registry[name]
        return name in (hash_green if q.oracle else any_green)

    def prio(name: str) -> int:
        q = registry[name]
        if is_done(name):
            return 6
        if name in survey_ids:
            return 0 if q.oracle else 1
        if name.startswith(("llm_", "mm_")):
            return 2 if q.oracle else 3
        return 4 if q.oracle else 5

    def staleness(name: str) -> int:
        if not is_done(name):
            return 0  # unverified blocks keep pure registration order
        q = registry[name]
        m = latest_hash if q.oracle else latest_any
        return reverify_staleness(name, m.get(name, 0))

    reg_pos = {n: i for i, n in enumerate(registry)}
    return sorted(registry, key=lambda n: (prio(n), staleness(n), reg_pos[n]))
