"""Semantic unit tests on tiny literal DataFrames — nulls, ties, and the
edge cases the fixtures may not cover (SURVEY.md §5.4)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
import pyspark.sql.functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_equal_ts_and_no_match(spark, tmp_path):
    """ASOF semantics: ts-equality matches; purchase before any signup → null."""
    from big_data_management_and_analytics_spark.operators import joins

    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 7, "purchase", 1.0, "{}"),  # before signup
            (2, _ts("2024-01-01T11:00:00"), 7, "signup", 1.0, "{}"),
            (3, _ts("2024-01-01T11:00:00"), 7, "purchase", 1.0, "{}"),  # ts == signup ts
            (4, _ts("2024-01-01T12:00:00"), 7, "purchase", 1.0, "{}"),  # after signup
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_id"]: r["signup_ts"]
        for r in joins.join_asof_event(spark, str(tmp_path)).collect()
    }
    assert out[1] is None  # no earlier signup
    assert out[3] == _ts("2024-01-01T11:00:00")  # equality included
    assert out[4] == _ts("2024-01-01T11:00:00")


def test_session_window_gap_boundary(spark):
    """Session merge boundary is INCLUSIVE: exactly 30min apart merges.

    Pins the semantics the stream_session_batch oracle mirrors with its
    strict `>` gap condition (a `>=` oracle would split the boundary case).
    """
    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00")), (1, _ts("2024-01-01T10:30:00")),
         (1, _ts("2024-01-01T11:00:01"))],
        schema="user_id long, ts timestamp",
    )
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .collect()
    )
    # 10:00 + 10:30 merge (inclusive boundary, session extends to 11:00);
    # 11:00:01 is 30:01 after 10:30 AND past the session end → new session.
    assert sorted(r["count"] for r in sessions) == [1, 2]


def test_minhash_catches_exact_duplicates(spark, tmp_path):
    """Identical docs must collide in every band; near-identical in ≥1 band."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [
            (1, "spark join filter window agg sort", "en", "s", 1),
            (2, "spark join filter window agg sort", "en", "s", 1),  # exact dup
            # Near dup (J=6/7): band collision is a probabilistic property
            # of the (deterministic) hash family — this text collides with
            # doc 1 in bands 0-1 under the portable md5 family, verified
            # against the same closed form the DuckDB oracle uses.
            (3, "spark join filter window agg sort extra", "en", "s", 1),
            (4, "totally different words here now yes", "en", "s", 1),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "mh")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    groups = {
        r["doc_id"]: r["group_rep"]
        for r in llm_dedup.llm_dedup_minhash(spark, d).collect()
    }
    assert groups[2] == 1  # exact dup collides in every band → same group
    assert groups[3] == 1  # near dup caught in ≥1 band
    assert groups[4] == 4  # unrelated doc stays its own representative


def test_components_transitively_close_minhash_groups(spark, tmp_path):
    """Connected components must merge chains the 1-hop grouping may not:
    every doc's component_rep ≤ its minhash group_rep."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [
            (1, "spark join filter window agg sort", "en", "s", 1),
            (2, "spark join filter window agg sort", "en", "s", 1),
            # Same family-dependent near-dup fixture as the minhash test.
            (3, "spark join filter window agg sort extra", "en", "s", 1),
            (4, "totally different words here now yes", "en", "s", 1),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "cc")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    comp = {
        r["doc_id"]: r["component_rep"]
        for r in llm_dedup.llm_dedup_components(spark, d).collect()
    }
    assert comp[1] == comp[2] == 1  # exact dups share the component
    assert comp[3] == 1  # near dup joins transitively
    assert comp[4] == 4  # unrelated doc stays alone


def test_jaccard_definition(spark, tmp_path):
    """Near-exact dedup uses token-SET jaccard: dup tokens don't inflate."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "en", "s", 9),
            (2, "a b c d e a a a", "en", "s", 15),  # same set, repeated tokens
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "jac")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = llm_dedup.llm_dedup_near_exact(spark, d).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_pivot_missing_cell_is_null(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import aggregations

    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 5, "click", 2.0, "{}")],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "pv")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    row = aggregations.agg_pivot(spark, d).collect()[0]
    assert row["click"] == 2.0 and row["purchase"] is None


def test_cosine_known_vectors(spark):
    from big_data_management_and_analytics_spark.functions.llm_sim import cosine

    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [-1.0, 0.0])],
        schema="a array<double>, b array<double>",
    )
    vals = [r[0] for r in df.select(F.round(cosine(F.col("a"), F.col("b")), 6)).collect()]
    assert vals == [0.0, 1.0, -1.0]


def test_custom_datasource_deterministic(spark):
    """Two reads of the custom source agree (retry-safe splits), and the
    source honors its numPartitions option."""
    from big_data_management_and_analytics_spark.sources import pysource

    a = pysource.src_custom_datasource(spark, "").toPandas().sort_values("event_type")
    b = pysource.src_custom_datasource(spark, "").toPandas().sort_values("event_type")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    raw = (
        spark.read.format("synthetic_events")
        .option("rows", 100)
        .option("numPartitions", 4)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4
    assert raw.count() == 100


def test_tokenizer_is_shared_single_definition():
    """One tokenizer definition for all text ops (SURVEY §7 M5)."""
    from big_data_management_and_analytics_spark.functions.strings import (
        SQL_TOKENS,
        TOKEN_SPLIT_RE,
    )

    assert TOKEN_SPLIT_RE == r"\s+"
    assert "lower" in SQL_TOKENS


def test_rollup_multires_daily_equals_daily_from_raw(spark):
    """Continuous-aggregate law: daily-from-hourly == daily-from-raw."""
    from big_data_management_and_analytics_spark.plans.determinism import cents
    from big_data_management_and_analytics_spark.streaming import batch_twins
    from tests.conftest import SF_T2

    via_hourly = batch_twins.stream_rollup_multires(spark, SF_T2)
    from big_data_management_and_analytics_spark.sources.io import load

    raw = load(spark, SF_T2, "events")
    direct = (
        raw.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("sum_value"),
        )
    )
    assert via_hourly.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_hourly).count() == 0


def test_lsh_knn_recall_against_brute_force(spark):
    """LSH ANN must return <=5 ranked neighbors per query and recover a
    meaningful fraction of the exact top-5 (measured 0.6 on the fixture;
    0.4 guards regressions without flaking)."""
    from big_data_management_and_analytics_spark.functions import llm_sim
    from tests.conftest import SF_T2

    exact = {
        (r.query_id, r.neighbor_id)
        for r in llm_sim.llm_sim_knn(spark, SF_T2).collect()
    }
    approx_rows = llm_sim.llm_sim_knn_lsh(spark, SF_T2).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    per_query = {}
    for r in approx_rows:
        per_query.setdefault(r.query_id, 0)
        per_query[r.query_id] += 1
        assert -1.0 <= r.cos_sim <= 1.0
    assert all(n <= 5 for n in per_query.values())
    assert len(exact & approx) / len(exact) >= 0.4


def test_pgm_decode_matches_numpy_recompute(spark):
    """The multimodal decoder is a REAL binary-PGM parser: every feature it
    emits must equal an independent numpy recomputation from the raw
    document text (the pixel source), exactly."""
    from big_data_management_and_analytics_spark.functions import multimodal
    from tests.conftest import SF_SMALL

    feats = {
        r.doc_id: r for r in multimodal.mm_decode_features(spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    assert len(feats) > 0
    w = multimodal.PGM_WIDTH
    checked = 0
    for d in docs:
        raw = d.text.encode("utf-8")
        if not raw:
            continue
        h = -(-len(raw) // w)
        pixels = np.frombuffer(raw + b" " * (h * w - len(raw)), dtype=np.uint8)
        r = feats[d.doc_id]
        assert (r.width, r.height) == (w, h)
        assert r.mean_luma == multimodal.round6(float(pixels.mean()) / 255)
        header = f"P5\n{w} {h}\n255\n".encode()
        assert r.byte_len == len(header) + h * w
        checked += 1
    assert checked == len(feats)


def test_pgm_payload_is_wellformed_image(spark):
    """The encoded payload must be parseable by the decoder standalone
    (header fields + raster length), i.e. a valid Netpbm P5 file."""
    import pandas as pd

    from big_data_management_and_analytics_spark.functions import multimodal
    from tests.conftest import SF_SMALL

    rows = multimodal._media_table(spark, SF_SMALL).limit(20).collect()
    payloads = pd.Series([bytes(r.payload) for r in rows])
    decoded = multimodal.decode_image_batch(payloads)
    assert (decoded["width"] == multimodal.PGM_WIDTH).all()
    assert (decoded["mean_luma"].between(0, 1)).all()


def test_ivf_knn_recall_against_brute_force(spark):
    """IVF ANN (unsupervised k-means quantizer — must not read `label`)
    returns <=5 ranked neighbors per query and recovers a meaningful
    fraction of the exact top-5 with 3-of-8 cells probed (the fixture's
    embeddings are near-isotropic, so cell pruning costs real recall —
    measured ~0.6 here; 0.4 guards regressions without flaking)."""
    from big_data_management_and_analytics_spark.functions import llm_sim
    from tests.conftest import SF_T2

    exact = {
        (r.query_id, r.neighbor_id)
        for r in llm_sim.llm_sim_knn(spark, SF_T2).collect()
    }
    approx_rows = llm_sim.llm_sim_knn_ivf(spark, SF_T2).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    per_query = {}
    for r in approx_rows:
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
        assert -1.0 <= r.cos_sim <= 1.0
    assert all(n <= 5 for n in per_query.values())
    assert len(exact & approx) / len(exact) >= 0.4


def test_new_live_twins_equal_batch(spark):
    """Sliding/session (complete mode) and dedup live twins must emit
    exactly their batch twins' results on a bounded replay."""
    from big_data_management_and_analytics_spark.streaming import batch_twins, live
    from tests.conftest import SF_SMALL

    pairs = [
        (live.stream_sliding_live, batch_twins.stream_sliding_batch),
        (live.stream_session_live, batch_twins.stream_session_batch),
        (live.stream_dedup_live, batch_twins.stream_dedup_batch),
    ]
    for live_fn, batch_fn in pairs:
        lv = live_fn(spark, SF_SMALL)
        bt = batch_fn(spark, SF_SMALL)
        assert lv.exceptAll(bt).count() == 0, live_fn.__name__
        assert bt.exceptAll(lv).count() == 0, live_fn.__name__


def test_session_fold_pure_semantics():
    """_fold_session_counts is the single source of sessionization truth
    for BOTH stateful APIs — pin its gap/carry-over semantics directly."""
    from big_data_management_and_analytics_spark.streaming.live import (
        _fold_session_counts,
    )

    gap = 30 * 60 * 1_000_000  # 30 min in µs
    m = 60 * 1_000_000
    # Fresh state: 3 events, one gap beyond 30 min → 2 sessions.
    n_s, n_e, last = _fold_session_counts([0, 10 * m, 50 * m], 0, 0, None, gap)
    assert (n_s, n_e, last) == (2, 3, 50 * m)
    # Carried state: next event within gap of last → no new session.
    n_s, n_e, last = _fold_session_counts([70 * m], n_s, n_e, last, gap)
    assert (n_s, n_e, last) == (2, 4, 70 * m)
    # Exactly at the gap boundary → same session (strict >).
    n_s, n_e, last = _fold_session_counts([100 * m], n_s, n_e, last, gap)
    assert (n_s, n_e) == (2, 5)
    # One µs past the boundary → new session.
    n_s, n_e, last = _fold_session_counts([130 * m + 1], n_s, n_e, last, gap)
    assert n_s == 3


def test_tws_sessions_equals_apply_in_pandas_twin(spark):
    """stream_tws_sessions (transformWithStateInPandas where protobuf is
    available; documented fallback otherwise) must emit exactly the
    applyInPandasWithState sessionizer's final per-user rows."""
    from big_data_management_and_analytics_spark.streaming import live
    from tests.conftest import SF_SMALL

    tws = live.stream_tws_sessions(spark, SF_SMALL)
    base = live.stream_stateful_sessions(spark, SF_SMALL)
    # Memory-sink update mode may hold one row per user per micro-batch;
    # compare the final (max-events) row per user.
    import pyspark.sql.functions as SF
    from pyspark.sql import Window

    def final_rows(df):
        w = Window.partitionBy("user_id").orderBy(SF.col("n_events").desc())
        return (
            df.withColumn("rn", SF.row_number().over(w))
            .filter(SF.col("rn") == 1)
            .drop("rn")
        )

    a, b = final_rows(tws), final_rows(base)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stream_state_width_invariance(spark, monkeypatch):
    """The narrow bounded-replay default (4 state partitions) is justified
    by the claim that stateful results are partition-invariant; drive the
    live stateful twin under the PRODUCTION width
    (SPARK_GRAFT_STREAM_STATE_PARTS=32) and require row-identical final
    state (round-4 verdict item 8 — the claim is guarded by execution at
    both widths, not by the batch shuffle-invariance harness alone)."""
    import os

    import pyspark.sql.functions as SF
    from pyspark.sql import Window

    from big_data_management_and_analytics_spark.streaming import live
    from tests.conftest import SF_SMALL

    def final_rows(df):
        w = Window.partitionBy("user_id").orderBy(SF.col("n_events").desc())
        return (
            df.withColumn("rn", SF.row_number().over(w))
            .filter(SF.col("rn") == 1)
            .drop("rn")
        )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS", raising=False)
    narrow = final_rows(live.stream_stateful_sessions(spark, SF_SMALL))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "32")
    wide = final_rows(live.stream_stateful_sessions(spark, SF_SMALL))
    assert narrow.count() > 0
    assert narrow.exceptAll(wide).count() == 0
    assert wide.exceptAll(narrow).count() == 0


def test_sink_compaction_preserves_rows_and_packs(spark, registry):
    """Compaction must keep every row and strictly reduce file count to
    the row-derived target."""
    from tests.conftest import SF_T2

    row = registry["sink_compaction"].fn(spark, SF_T2).collect()[0]
    assert row.n_rows == row.n_rows_after, "compaction lost/duplicated rows"
    assert row.n_files_before == 64
    assert row.n_files_after == max(1, -(-row.n_rows // 200_000))
    assert row.n_files_after < row.n_files_before


def test_bigram_series_cap_covers_fixture(spark):
    """llm_text_ngram's oracle expands positions 1..200; the fixture's
    longest document must stay under that cap (else the oracle would
    silently drop tail bigrams)."""
    from big_data_management_and_analytics_spark.functions.strings import tokens
    from big_data_management_and_analytics_spark.sources.io import load
    from tests.conftest import SF_T2

    d = load(spark, SF_T2, "documents")
    max_toks = d.select(F.max(F.size(tokens(F.col("text")))).alias("m")).first().m
    assert max_toks <= 200, max_toks


def test_chunking_covers_every_token_and_overlaps(spark):
    """Chunks tile each doc: chunk 0 starts at token 1, consecutive chunks
    overlap by 10 tokens, and the union of chunk spans covers all tokens."""
    from big_data_management_and_analytics_spark.functions import llm_text
    from big_data_management_and_analytics_spark.functions.strings import tokens
    from big_data_management_and_analytics_spark.sources.io import load
    from tests.conftest import SF_SMALL

    chunks = llm_text.llm_doc_chunking(spark, SF_SMALL).collect()
    n_toks = {
        r.doc_id: r.n
        for r in load(spark, SF_SMALL, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    per_doc = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_chunk_tokens))
    for doc_id, cs in per_doc.items():
        cs.sort()
        ids = [i for i, _ in cs]
        assert ids == list(range(len(cs)))  # dense chunk indices
        covered = 40 * (len(cs) - 1) + cs[-1][1]
        assert covered == n_toks[doc_id]  # last chunk reaches the last token
        for _, n in cs[:-1]:
            # A non-final chunk is clipped by doc end only in its overlap
            # tail: its start+40 <= n_tokens, so it holds 41..50 tokens.
            assert 41 <= n <= 50


def test_packing_offsets_are_consistent(spark):
    """Shard-local packing invariants: offset_in_pack ∈ [0, 256) and equals
    the shard's cumulative token count mod 256; pack_id is monotone
    non-decreasing in doc_id within each shard; shard == doc_id % 8."""
    from collections import defaultdict

    from big_data_management_and_analytics_spark.functions import llm_text
    from tests.conftest import SF_SMALL

    by_shard = defaultdict(list)
    for r in llm_text.llm_pack_sequences(spark, SF_SMALL).collect():
        assert r.shard == r.doc_id % 8
        by_shard[r.shard].append(r)
    assert len(by_shard) == 8
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        cum, prev_pack = 0, -1
        for r in shard_rows:
            assert 0 <= r.offset_in_pack < 256
            assert r.pack_id == cum // 256
            assert r.offset_in_pack == cum % 256
            assert r.pack_id >= prev_pack
            prev_pack = r.pack_id
            cum += r.n_tok


def test_approx_topk_matches_exact_at_small_sf(spark, registry):
    """At sf0.001 the top-k sketch capacity far exceeds the distinct-word
    count, so approx_top_k must equal the exact top-5 (with count ties
    allowed to reorder — compare as count-sorted multisets)."""
    import pyspark.sql.functions as F
    from tests.conftest import SF_SMALL

    approx = registry["agg_approx_topk"].fn(spark, SF_SMALL).collect()
    exact = (
        registry["llm_text_wordcount"]
        .fn(spark, SF_SMALL)
        .limit(5)
        .collect()
    )
    assert sorted(r.n for r in approx) == sorted(r.freq for r in exact)


def test_checkpoint_resume_processes_each_file_once(spark, registry):
    """Counts after two incremental runs equal exactly 2x the batch table."""
    import pyspark.sql.functions as F
    from big_data_management_and_analytics_spark.sources.io import load
    from tests.conftest import SF_SMALL

    got = {
        r.event_type: r.n_events
        for r in registry["stream_checkpoint_resume"].fn(spark, SF_SMALL).collect()
    }
    base = {
        r.event_type: r.n
        for r in load(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {k: 2 * v for k, v in base.items()}


def test_pca_matches_numpy_eigendecomposition(spark, registry):
    """Distributed covariance + driver eigensolve must equal a direct
    numpy PCA of the same matrix (to the 6-digit output rounding)."""
    import numpy as np
    import pyarrow.parquet as pq
    from tests.conftest import SF_SMALL

    t = pq.read_table(f"{SF_SMALL}/embeddings.parquet")
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    Xc = X - X.mean(0)
    cov = Xc.T @ Xc / len(X)
    vals, vecs = np.linalg.eigh(cov)
    v = vecs[:, -1]
    if v[np.argmax(np.abs(v))] < 0:
        v = -v

    rows = sorted(
        registry["llm_embed_pca"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.dim,
    )
    got = np.array([r.loading for r in rows])
    assert np.abs(got - v).max() < 1e-5
    assert abs(rows[0].explained_share - vals[-1] / np.trace(cov)) < 1e-5


def test_bloom_contamination_has_no_false_negatives(spark, registry):
    """llm_contamination_bloom must flag a SUPERSET of the exact operator's
    hits (a bloom filter can only err toward false positives), with the FP
    count bounded far below the corpus size, and per-doc flagged-gram
    counts at least the exact shared-gram counts."""
    from tests.conftest import SF_T2

    exact = registry["llm_contamination"].fn(spark, SF_T2).toPandas()
    bloom = registry["llm_contamination_bloom"].fn(spark, SF_T2).toPandas()
    e = set(exact[exact.contaminated].doc_id)
    b = set(bloom[bloom.contaminated].doc_id)
    assert e <= b, f"false negatives: {sorted(e - b)[:5]}"
    # 2^20-bit bloom at the fixture's gram cardinality: FPs should be rare.
    assert len(b - e) <= max(5, len(exact) // 100), f"{len(b - e)} FP docs"
    m = exact.merge(bloom, on="doc_id")
    assert (m.n_flagged_grams >= m.n_shared_grams).all()


def test_resize_matches_numpy_reference(spark, registry):
    """mm_resize's 8x8 payloads must equal a from-scratch numpy
    nearest-neighbor re-derivation from the ORIGINAL payload bytes, and
    every output must itself be a valid PGM."""
    import numpy as np

    from big_data_management_and_analytics_spark.functions import multimodal
    from tests.conftest import SF_SMALL

    orig = {
        r.doc_id: bytes(r.payload)
        for r in multimodal._media_table(spark, SF_SMALL).collect()
    }
    out = registry["mm_resize"].fn(spark, SF_SMALL).collect()
    assert len(out) == len(orig)
    for r in out[:100]:
        w, h, maxval, raster = multimodal.parse_pgm(orig[r.doc_id])
        ys = (np.arange(multimodal.RESIZE_H) * h) // multimodal.RESIZE_H
        xs = (np.arange(multimodal.RESIZE_W) * w) // multimodal.RESIZE_W
        small = raster[np.ix_(ys, xs)]
        expect = b"P5\n8 8\n%d\n" % maxval + small.tobytes()
        got = bytes.fromhex(r.payload_small_hex)
        assert got == expect
        rw, rh, _, rr = multimodal.parse_pgm(got)
        assert (rw, rh) == (8, 8) and rr.shape == (8, 8)
        assert r.mean_luma_small == multimodal.round6(float(small.mean()) / maxval)


def test_persisted_ivf_serves_identical_results(spark, registry):
    """llm_index_persist (build → write partitioned index → read → serve)
    must return exactly llm_sim_knn_ivf's top-5 — persistence cannot
    change the math."""
    from tests.conftest import SF_T2

    served = registry["llm_index_persist"].fn(spark, SF_T2)
    direct = registry["llm_sim_knn_ivf"].fn(spark, SF_T2)
    assert served.exceptAll(direct).count() == 0
    assert direct.exceptAll(served).count() == 0


def test_audio_features_match_numpy_reference(spark, registry):
    """mm_audio_features must equal an independent numpy re-derivation
    from the raw payload bytes (RMS + zero-crossing rate, exact)."""
    import numpy as np

    from big_data_management_and_analytics_spark.functions import multimodal
    from tests.conftest import SF_SMALL

    orig = {
        r.doc_id: bytes(r.payload)
        for r in multimodal._audio_table(spark, SF_SMALL).collect()
    }
    out = registry["mm_audio_features"].fn(spark, SF_SMALL).collect()
    assert len(out) == len(orig) > 0
    for r in out[:100]:
        b = orig[r.doc_id]
        assert b.startswith(b"PCM16 16000\n")
        s = np.frombuffer(b, dtype="<i2", offset=b.index(b"\n") + 1)
        x = s.astype(np.float64) / 32768.0
        assert r.sample_rate == 16000 and r.n_samples == len(s)
        assert r.rms == multimodal.round6(float(np.sqrt(np.mean(x * x))))
        signs = np.signbit(x)
        assert r.zcr == multimodal.round6(float(np.mean(signs[1:] != signs[:-1])))


def test_pagerank_conserves_mass_and_ranks_degree(spark, registry):
    """Decimal-exact PageRank: total rank mass stays 1 (to rounding), all
    ranks positive, and the highest-degree node out-ranks the median."""
    from tests.conftest import SF_T2

    rows = registry["graph_pagerank"].fn(spark, SF_T2).collect()
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    assert all(r.pagerank > 0 for r in rows)
    supp = sorted(r.pagerank for r in rows if r.node_type == "supplier")
    cust = sorted(r.pagerank for r in rows if r.node_type == "customer")
    # 100 suppliers absorb the mass of ~1500 customers: any supplier
    # should out-rank the median customer.
    assert supp[0] > cust[len(cust) // 2]


def test_substring_dedup_planted_span(spark, tmp_path):
    """Exact-substring dedup counts each duplicated k-gram POSITION: two
    docs sharing one 8-token span each get exactly one dup position; a
    doc with no shared span is absent from the output."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2", "en", "s", 1),  # 10 toks -> 3 grams
            (2, "head " + shared, "en", "s", 1),  # 9 toks -> 2 grams
            (3, "q w e r t y u i o p", "en", "s", 1),  # unique grams
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sub")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = {r["doc_id"]: r for r in llm_corpus.llm_dedup_substring(spark, d).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_grams"] == 3 and rows[1]["dup_grams"] == 1
    assert rows[2]["n_grams"] == 2 and rows[2]["dup_grams"] == 1
    assert rows[2]["dup_frac"] == 0.5


def test_inverted_index_postings_planted(spark, tmp_path):
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha", "en", "s", 1),
            (2, "beta gamma", "en", "s", 1),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "inv")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    idx = {r["term"]: r for r in llm_corpus.llm_inverted_index(spark, d).collect()}
    assert idx["alpha"]["df"] == 1 and idx["alpha"]["cf"] == 2
    assert idx["alpha"]["postings"] == "1"
    assert idx["beta"]["df"] == 2 and idx["beta"]["postings"] == "1,2"
    assert idx["gamma"]["postings"] == "2"


def test_pii_redact_scrubs_every_pattern(spark, registry):
    """After redaction no email/IP/phone pattern survives, every category
    was seen at least once per row, and the counts match a Python-regex
    recount on the identically-composed dirty text."""
    import re

    from tests.conftest import SF_SMALL
    from big_data_management_and_analytics_spark.functions.llm_corpus import (
        RE_EMAIL,
        RE_IP,
        RE_PHONE,
    )

    rows = registry["llm_pii_redact"].fn(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows[:200]:
        for pat in (RE_EMAIL, RE_IP, RE_PHONE):
            assert not re.search(pat, r["clean"]), (pat, r["clean"])
        assert r["n_email"] == 1 and r["n_ip"] == 1 and r["n_phone"] == 1
        assert "[EMAIL]" in r["clean"] and "[IP]" in r["clean"] and "[PHONE]" in r["clean"]


def test_bpe_merge_greedy_left_to_right(spark, tmp_path):
    """True BPE application semantics on an x==x run: 'aaaa' merges to
    [aa, aa] and 'aaa' to [aa, a] — every other match position from each
    run head, never the textual-replace artifact [aa, a, aa]."""
    from big_data_management_and_analytics_spark.functions import llm_corpus
    from big_data_management_and_analytics_spark.sources.io import checkpoint

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa aaa", "en", "s", 1), (2, "b c", "en", "s", 1)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "bpe")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    w0 = llm_corpus._bpe_words0(spark, d).transform(checkpoint)
    w1, m1 = llm_corpus._bpe_step(w0)
    merge = m1.collect()[0]
    assert (merge["x"], merge["y"]) == ("a", "a")
    # freq-weighted count: 'aaaa' (freq 3) has 3 pair positions, 'aaa' has 2
    assert merge["cnt"] == 3 * 3 + 2
    syms = {r["w"]: r["syms"] for r in w1.collect()}
    assert syms["aaaa"] == ["aa", "aa"]
    assert syms["aaa"] == ["aa", "a"]
    assert syms["b"] == ["b"] and syms["c"] == ["c"]


def test_semdedup_prunes_within_cluster(spark, tmp_path):
    """An exact duplicate always collapses onto the lower id (cosine ties
    assign both to the same lowest cell); an orthogonal vector survives;
    and per cell the lowest vec_id is always the kept representative."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    base = [1.0, 0.0, 0.0, 0.0]
    orth = [0.0, 1.0, 0.0, 0.0]
    vecs = spark.createDataFrame(
        [(1, 0, base), (2, 0, base), (3, 1, orth)],
        schema="vec_id long, label int, embedding array<float>",
    )
    d = str(tmp_path / "sd")
    vecs.write.mode("overwrite").parquet(d + "/embeddings.parquet")
    out = {r["vec_id"]: r["kept"] for r in llm_corpus.llm_dedup_semantic(spark, d).collect()}
    assert out == {1: 1, 2: 0, 3: 1}


def test_semdedup_cell_invariants(spark, registry):
    """On the fixture: some pruning happens, and within every cell the
    minimum vec_id is kept (it can have no lower-id neighbor)."""
    from tests.conftest import SF_SMALL

    rows = registry["llm_dedup_semantic"].fn(spark, SF_SMALL).collect()
    assert len(rows) > 0
    assert any(r["kept"] == 0 for r in rows)
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        lowest = min(members, key=lambda r: r["vec_id"])
        assert lowest["kept"] == 1, (cell, lowest)


def test_substring_rewrite_removes_exact_span(spark, tmp_path):
    """Only positions covered by the shared 8-gram are dropped; the
    surviving tokens rebuild in original order."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, "pre " + shared + " post", "en", "s", 1),
            (2, shared, "en", "s", 1),
            (3, "q w e r t y u i o p", "en", "s", 1),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "rw")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in llm_corpus.llm_dedup_substring_rewrite(spark, d).collect()
    }
    # doc 1: grams at i=1..3; only i=2 ("one..eight") is shared -> covers
    # positions 2..9, keeping "pre" and "post".
    assert out[1]["n_tokens"] == 10 and out[1]["n_removed"] == 8
    assert out[1]["clean"] == "pre post"
    # doc 2 is entirely the shared span -> everything removed.
    assert out[2]["n_removed"] == 8 and out[2]["clean"] == ""
    # doc 3 shares nothing -> untouched.
    assert out[3]["n_removed"] == 0 and out[3]["clean"] == "q w e r t y u i o p"


def test_substring_detect_and_rewrite_agree(spark, registry):
    """Cross-operator consistency on the fixture: exactly the docs the
    detector flags lose tokens in the rewrite, n_grams == n_tokens-K+1,
    and removal counts respect the k-gram coverage bounds."""
    from tests.conftest import SF_SMALL
    from big_data_management_and_analytics_spark.functions.llm_corpus import K_SUB

    det = {
        r["doc_id"]: r for r in registry["llm_dedup_substring"].fn(spark, SF_SMALL).collect()
    }
    rew = {
        r["doc_id"]: r
        for r in registry["llm_dedup_substring_rewrite"].fn(spark, SF_SMALL).collect()
    }
    assert set(det) == {d for d, r in rew.items() if r["n_removed"] > 0}
    for d, dr in det.items():
        rr = rew[d]
        assert dr["n_grams"] == rr["n_tokens"] - (K_SUB - 1)
        # one dup gram covers K positions; m dup grams cover at most K*m
        assert K_SUB <= rr["n_removed"] <= min(rr["n_tokens"], K_SUB * dr["dup_grams"])
        # clean text token count matches the removal arithmetic
        n_clean = len(rr["clean"].split()) if rr["clean"] else 0
        assert n_clean == rr["n_tokens"] - rr["n_removed"]


def test_ts_gap_fill_carries_forward(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import timeseries

    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:15:00"), 1, "click", 2.0, "{}"),
            (2, _ts("2024-01-01T10:45:00"), 1, "click", 3.0, "{}"),
            # hour 11 missing entirely
            (3, _ts("2024-01-01T12:05:00"), 1, "click", 7.0, "{}"),
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "gf")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    rows = {
        r["hour"].hour: r for r in timeseries.ts_gap_fill(spark, d).collect()
    }
    assert set(rows) == {10, 11, 12}
    assert rows[10]["n_events"] == 2 and rows[10]["filled_value"] == 5.0
    assert rows[11]["n_events"] == 0 and rows[11]["is_gap"] == 1
    assert rows[11]["filled_value"] == 5.0  # carried forward
    assert rows[12]["filled_value"] == 7.0 and rows[12]["is_gap"] == 0


def test_ts_ohlc_picks_by_time_order(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import timeseries

    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:05:00"), 1, "click", 4.0, "{}"),
            (2, _ts("2024-01-01T10:10:00"), 1, "click", 9.0, "{}"),
            (3, _ts("2024-01-01T10:55:00"), 1, "click", 1.0, "{}"),
            # same ts as event 3: event_id breaks the tie -> close = 6.0
            (4, _ts("2024-01-01T10:55:00"), 1, "click", 6.0, "{}"),
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "ohlc")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    r = timeseries.ts_ohlc_resample(spark, d).collect()[0]
    assert r["open"] == 4.0 and r["close"] == 6.0
    assert r["high"] == 9.0 and r["low"] == 1.0
    assert r["n_events"] == 4 and r["sum_value"] == 20.0


def test_funnel_requires_stage_order(spark, tmp_path):
    """A purchase BEFORE the user's first click must not count; a full
    ordered view->click->purchase chain counts once."""
    from big_data_management_and_analytics_spark.operators import timeseries

    ev = spark.createDataFrame(
        [
            # user 1: proper chain
            (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01T10:05:00"), 1, "click", 1.0, "{}"),
            (3, _ts("2024-01-01T10:30:00"), 1, "purchase", 1.0, "{}"),
            # user 2: purchase precedes click -> stops at click stage
            (4, _ts("2024-01-01T09:00:00"), 2, "view", 1.0, "{}"),
            (5, _ts("2024-01-01T09:10:00"), 2, "purchase", 1.0, "{}"),
            (6, _ts("2024-01-01T09:20:00"), 2, "click", 1.0, "{}"),
            # user 3: click only, no view first -> no funnel entry past view
            (7, _ts("2024-01-01T08:00:00"), 3, "click", 1.0, "{}"),
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "fun")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    r = timeseries.events_funnel(spark, d).collect()[0]
    assert r["n_view"] == 2
    assert r["n_click_after_view"] == 2  # users 1 and 2
    assert r["n_purchase_after_click"] == 1  # only user 1
    assert r["avg_sec_to_convert"] == 1800.0


def test_cohort_retention_offsets(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import timeseries

    ev = spark.createDataFrame(
        [
            # user 1 first active week of Jan 1 (Mon), returns 2 weeks later
            (1, _ts("2024-01-02T10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-16T10:00:00"), 1, "view", 1.0, "{}"),
            # user 2 same cohort, week-0 only
            (3, _ts("2024-01-03T10:00:00"), 2, "view", 1.0, "{}"),
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "coh")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    rows = {
        (r["cohort"].day, r["week_offset"]): r["n_users"]
        for r in timeseries.events_cohort_retention(spark, d).collect()
    }
    assert rows == {(1, 0): 2, (1, 2): 1}


def test_transition_matrix_rows_are_distributions(spark, registry):
    """Each prev_type's outgoing probabilities sum to ~1 and counts are
    consistent with the per-row probability."""
    from tests.conftest import SF_SMALL

    rows = registry["events_transition_matrix"].fn(spark, SF_SMALL).collect()
    assert len(rows) > 0
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + r["prob"]
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-3, (prev, total)


def test_zscore_flags_planted_spike(spark, tmp_path):
    """A flat series with one huge spike: the spike hour gets |z| > 3
    once enough trailing history exists; flat hours sit near zero."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for h in range(20):
        eid += 1
        val = 1000.0 if h == 18 else 1.0
        rows.append((eid, _ts(f"2024-01-01T{h:02d}:30:00"), 1, "click", val, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "zs")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r["hour"].hour: r for r in timeseries.ts_anomaly_zscore(spark, d).collect()}
    assert 18 in out and out[18]["is_anomaly"] == 1
    assert out[18]["zscore"] > 3
    # flat hours with full history are not anomalous
    assert out[15]["is_anomaly"] == 0


def test_dq_audit_counts_planted_violations(spark, tmp_path):
    """Forge one PK duplicate, one FK orphan, and one out-of-range
    quantity into a copy of the sf0.001 fixture; the audit must count
    exactly those."""
    import pyspark.sql.functions as F
    from tests.conftest import SF_SMALL
    from big_data_management_and_analytics_spark.operators import timeseries

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    dup = li.limit(1)  # duplicates an existing PK
    orphan = li.limit(1).withColumn("l_orderkey", F.lit(999999999).cast("long"))
    bad_qty = (
        li.limit(1)
        .withColumn("l_orderkey", F.lit(999999998).cast("long"))
        .withColumn("l_quantity", F.lit(99.0))
    )  # also an orphan
    forged = li.unionAll(dup).unionAll(orphan).unionAll(bad_qty)
    d = str(tmp_path / "dq")
    forged.write.mode("overwrite").parquet(d + "/lineitem.parquet")
    o.write.mode("overwrite").parquet(d + "/orders.parquet")
    base = {
        r["rule"]: r["n_violations"]
        for r in timeseries.dq_constraint_audit(spark, SF_SMALL).collect()
    }
    out = {
        r["rule"]: r["n_violations"]
        for r in timeseries.dq_constraint_audit(spark, d).collect()
    }
    # deltas over the fixture's own baseline (the synthetic generator
    # does not guarantee PK uniqueness, so baseline != 0 there)
    assert out["lineitem_pk_unique"] == base["lineitem_pk_unique"] + 1
    assert out["lineitem_orderkey_fk"] == base["lineitem_orderkey_fk"] + 2
    assert out["lineitem_qty_range"] == base["lineitem_qty_range"] + 1
    assert out["lineitem_discount_range"] == base["lineitem_discount_range"]
    assert out["lineitem_returnflag_domain"] == base["lineitem_returnflag_domain"]
    assert out["orders_totalprice_nonneg"] == base["orders_totalprice_nonneg"]


def test_skyline_planted_frontier(spark, tmp_path):
    """Literal parts with every tie case: duplicate skyline points both
    survive; same-price-smaller and cheaper-equal-size are dominated."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [
        # (partkey, name, brand, type, size, retailprice)
        (1, "a", "B1", "T", 5, 1.0),   # skyline
        (2, "b", "B1", "T", 5, 1.0),   # duplicate point -> also skyline
        (3, "c", "B1", "T", 3, 1.0),   # same price, smaller size -> dominated
        (4, "d", "B1", "T", 5, 2.0),   # cheaper equal size exists -> dominated
        (5, "e", "B1", "T", 7, 2.0),   # skyline (bigger than all cheaper)
        (6, "f", "B1", "T", 7, 3.0),   # dominated by 5
        (7, "g", "B1", "T", 1, 0.5),   # cheapest -> skyline
    ]
    p = spark.createDataFrame(
        rows,
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    d = str(tmp_path / "sky")
    p.write.mode("overwrite").parquet(d + "/part.parquet")
    got = sorted(r["p_partkey"] for r in mining.skyline_pareto(spark, d).collect())
    assert got == [1, 2, 5, 7]


def test_basket_rules_planted_counts(spark, tmp_path):
    """Four baskets with known co-occurrence: support/confidence/lift
    must match the hand computation; repeated partkeys in one order
    must not double-count the brand."""
    from big_data_management_and_analytics_spark.operators import mining

    parts = spark.createDataFrame(
        [(1, "p1", "X", "T", 1, 1.0), (2, "p2", "Y", "T", 1, 1.0),
         (3, "p3", "Z", "T", 1, 1.0), (4, "p4", "X", "T", 1, 1.0)],
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    li_rows = []
    def add(okey, *pkeys):
        for i, pk in enumerate(pkeys):
            li_rows.append((okey, pk, 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                            _ts("2024-01-01T00:00:00")))
    add(1, 1, 2)        # X, Y
    add(2, 1, 4, 2)     # X (twice, two partkeys), Y
    add(3, 1)           # X
    add(4, 2, 3)        # Y, Z
    li = spark.createDataFrame(
        li_rows,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
               "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
               "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    d = str(tmp_path / "bsk")
    parts.write.mode("overwrite").parquet(d + "/part.parquet")
    li.write.mode("overwrite").parquet(d + "/lineitem.parquet")
    out = {(r["brand_a"], r["brand_b"]): r
           for r in mining.mkt_basket_rules(spark, d).collect()}
    xy = out[("X", "Y")]
    assert xy["pair_cnt"] == 2 and xy["cnt_a"] == 3 and xy["cnt_b"] == 3
    assert xy["support"] == 0.5
    assert xy["conf_a_to_b"] == round(2 / 3, 6)
    assert xy["lift"] == round(2 * 4 / (3 * 3), 6)
    yz = out[("Y", "Z")]
    assert yz["pair_cnt"] == 1 and yz["cnt_b"] == 1 and yz["conf_b_to_a"] == 1.0


def test_scd2_collapses_consecutive_dups(spark, tmp_path):
    """A-A-B-A stream -> 3 versions: the repeat A does not open a new
    version; intervals chain and only the tail is current."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 7, "A", 1.0, "{}"),
        (2, _ts("2024-01-01T11:00:00"), 7, "A", 1.0, "{}"),
        (3, _ts("2024-01-01T12:00:00"), 7, "B", 1.0, "{}"),
        (4, _ts("2024-01-01T13:00:00"), 7, "A", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "scd")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    hist = sorted(
        mining.scd_type2_history(spark, d).collect(), key=lambda r: r["version"]
    )
    assert [r["state"] for r in hist] == ["A", "B", "A"]
    assert hist[0]["valid_from"] == _ts("2024-01-01T10:00:00")
    assert hist[0]["valid_to"] == _ts("2024-01-01T12:00:00")  # repeat A skipped
    assert hist[1]["valid_to"] == _ts("2024-01-01T13:00:00")
    assert hist[2]["valid_to"] is None and hist[2]["is_current"]
    assert [r["is_current"] for r in hist[:2]] == [False, False]


def test_equidepth_buckets_are_equal_depth(spark, registry):
    """Decile invariants on the fixture: counts differ by at most 1, sum
    to the table count, and bucket ranges are non-overlapping."""
    rows = sorted(
        registry["agg_equidepth"].fn(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    counts = [r["n"] for r in rows]
    assert max(counts) - min(counts) <= 1
    from big_data_management_and_analytics_spark.sources.io import load

    assert sum(counts) == load(spark, "/root/testdata/sf0.01", "orders").count()
    for lo_r, hi_r in zip(rows, rows[1:]):
        assert lo_r["hi"] <= hi_r["lo"]


def test_perplexity_numpy_rederivation(spark, registry):
    """Re-derive avg NLL for every sf0.001 document in pure Python
    (collections.Counter + math.log) and compare within float tolerance
    (the engines' ln may differ in the last ulp; the operator's decimal
    quantization bounds drift at 1e-6 per term)."""
    import collections
    import math
    import re as _re

    import duckdb

    docs = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    toks = {i: _re.split(r"\s+", t.lower()) for i, t in docs}
    vocab = collections.Counter()
    for ts in toks.values():
        vocab.update(ts)
    total = sum(vocab.values())
    got = {
        r["doc_id"]: r
        for r in registry["llm_text_perplexity"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(toks)
    for doc_id, ts in toks.items():
        tf = collections.Counter(ts)
        nll = sum(c * math.log(total / vocab[w]) for w, c in tf.items())
        r = got[doc_id]
        assert r["n_tok"] == len(ts)
        assert abs(r["avg_nll"] - nll / len(ts)) < 1e-4, doc_id


def test_ewma_fold_matches_python_recurrence(spark, tmp_path):
    """EWMA over a known sequence must equal the Python recurrence,
    ordered by (ts, event_id) even when insertion order is shuffled."""
    from big_data_management_and_analytics_spark.operators import timeseries

    vals = [10.0, 20.0, 5.0, 40.0]
    rows = [
        (eid, _ts(f"2024-01-01T{10 + i:02d}:00:00"), 1, "click", v, "{}")
        for i, (eid, v) in enumerate(zip([3, 1, 4, 2], vals))
    ]
    rows = rows[::-1]  # shuffle insertion order; ts order must win
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "ewma")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    from decimal import ROUND_HALF_UP, Decimal

    # mirror the exact-decimal fold: integer cents in, scale-12 steps
    cents = [int(v * 100 + 0.5) for v in vals]
    s = Decimal(cents[0]) * Decimal("0.01")
    for c in cents[1:]:
        s = (
            Decimal("0.3") * (Decimal(c) * Decimal("0.01")) + Decimal("0.7") * s
        ).quantize(Decimal("1e-12"), ROUND_HALF_UP)
    expected = int(s.quantize(Decimal("1e-6"), ROUND_HALF_UP) * 1000000) / 1000000.0
    out = timeseries.ts_ewma(spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 4
    assert out[0]["ewma"] == expected


def test_welch_ttest_matches_numpy(spark, registry):
    """Re-derive the t statistic and Welch df from the raw fixture
    values with numpy (float path) — the exact-moment computation must
    agree to float tolerance."""
    import duckdb

    a, b = (
        duckdb.sql(
            "SELECT list(value) FILTER (event_type = 'purchase'), "
            "       list(value) FILTER (event_type = 'view') "
            "FROM '/root/testdata/sf0.01/events.parquet'"
        ).fetchone()
    )
    a, b = np.array(a), np.array(b)
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    df = se2**2 / ((v1 / len(a)) ** 2 / (len(a) - 1) + (v2 / len(b)) ** 2 / (len(b) - 1))
    r = registry["agg_welch_ttest"].fn(spark, "/root/testdata/sf0.01").collect()[0]
    assert r["n1"] == len(a) and r["n2"] == len(b)
    assert abs(r["t_stat"] - t) < 1e-6
    assert abs(r["welch_df"] - df) < 1e-2


def test_bfs_planted_chain(spark, tmp_path):
    """A planted two-order chain: seed customer 100 reaches its supplier
    at 1 hop, a sibling customer at 2, that customer's other supplier at
    3; an unconnected order component is absent."""
    from big_data_management_and_analytics_spark.operators import graph

    orders = spark.createDataFrame(
        [(1, 100, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (2, 7, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (3, 7, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (4, 9, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, 1, 50, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
         (2, 1, 50, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
         (3, 1, 60, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
         (4, 1, 70, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00"))],
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
               "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
               "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    cust = spark.createDataFrame(
        [(100, "c100", 0, 0.0, "BUILDING"), (7, "c7", 0, 0.0, "BUILDING"),
         (9, "c9", 0, 0.0, "BUILDING")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    d = str(tmp_path / "bfs")
    orders.write.parquet(d + "/orders.parquet")
    li.write.parquet(d + "/lineitem.parquet")
    cust.write.parquet(d + "/customer.parquet")
    out = {r["node"]: (r["dist"], r["kind"])
           for r in graph.graph_shortest_paths(spark, d).collect()}
    assert out[200] == (0, "customer")      # seed (custkey 100)
    assert out[101] == (1, "supplier")      # suppkey 50 shared with cust 7
    assert out[14] == (2, "customer")       # custkey 7
    assert out[121] == (3, "supplier")      # suppkey 60 via cust 7
    assert 18 not in out and 141 not in out  # cust 9 / supp 70: disconnected


def test_bfs_bipartite_parity_on_fixture(spark, registry):
    """On the bipartite co-purchase graph, customers sit at even
    distance and suppliers at odd distance from the all-customer seed
    cohort — a structural invariant of the BFS levels."""
    rows = registry["graph_shortest_paths"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r["dist"] % 2 == (0 if r["kind"] == "customer" else 1), r


def test_rolling_regression_planted_line(spark, tmp_path):
    """An exact hourly line y = 100 + 10·h gives slope 10 and R² = 1
    once two points exist; a gap hour SHRINKS the trailing range window
    (missing hours are not imputed), so n_obs drops after the gap."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    hours = [0, 1, 2, 3, 10, 11]  # gap between 3 and 10
    for i, h in enumerate(hours):
        rows.append(
            (i + 1, _ts(f"2024-01-01T{h:02d}:15:00"), 1, "click",
             100.0 + 10.0 * h, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "roll")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {
        r["bucket"].hour: r
        for r in timeseries.ts_rolling_regression(spark, d).collect()
    }
    assert out[0]["n_obs"] == 1 and out[0]["slope"] is None
    assert out[3]["n_obs"] == 4 and out[3]["slope"] == 10.0
    assert out[3]["r2"] == 1.0
    # hour 10 is beyond the 5-hour trailing range of hour 3: window resets
    assert out[10]["n_obs"] == 1 and out[10]["slope"] is None
    assert out[11]["n_obs"] == 2 and out[11]["slope"] == 10.0


def test_grid_knn_matches_bruteforce_within_ring(spark, tmp_path):
    """Brute-force re-derivation over a literal key set: every probe's
    reported neighbor is the true nearest among suppliers in the 3×3
    cell ring, and probes with an empty ring are absent."""
    from big_data_management_and_analytics_spark.operators import joins as J

    ckeys = [1, 7, 13, 100, 257, 511, 999, 1000]
    skeys = [2, 5, 11, 400, 777, 1000]

    def pos(k):
        return ((k * 73 % 1000) / 10.0, (k * 179 % 1000) / 10.0)

    def cell(k):
        return (k * 73 % 1000 // 100, k * 179 % 1000 // 100)

    expected = {}
    for ck in ckeys:
        cx, cy = pos(ck)
        ccx, ccy = cell(ck)
        best = None
        for sk in skeys:
            scx, scy = cell(sk)
            if abs(ccx - scx) <= 1 and abs(ccy - scy) <= 1:
                sx, sy = pos(sk)
                d2 = (cx - sx) ** 2 + (cy - sy) ** 2
                if best is None or (d2, sk) < best:
                    best = (d2, sk)
        if best is not None:
            expected[ck] = best[1]

    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "BUILDING") for k in ckeys],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    supp = spark.createDataFrame(
        [(k, f"s{k}", 0, 0.0) for k in skeys],
        schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    d = str(tmp_path / "grid")
    cust.write.parquet(d + "/customer.parquet")
    supp.write.parquet(d + "/supplier.parquet")
    got = {r["c_custkey"]: r["s_suppkey"] for r in J.join_grid_knn(spark, d).collect()}
    assert got == expected


def test_scd2_same_timestamp_ties_are_deterministic(spark, tmp_path):
    """Two change rows at the SAME timestamp must version by event_id
    (the total-order tiebreak) — not arbitrarily."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [
        (2, _ts("2024-01-01T10:00:00"), 7, "B", 1.0, "{}"),
        (1, _ts("2024-01-01T10:00:00"), 7, "A", 1.0, "{}"),
        (3, _ts("2024-01-01T11:00:00"), 7, "C", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "scdtie")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    hist = sorted(
        mining.scd_type2_history(spark, d).collect(), key=lambda r: r["version"]
    )
    assert [r["state"] for r in hist] == ["A", "B", "C"]
    assert hist[0]["valid_to"] == _ts("2024-01-01T10:00:00")  # closed by the tie row
    assert hist[2]["is_current"]


def test_abc_planted_cumulative_classes(spark, tmp_path):
    """Revenues 50/30/15/5 -> cum shares 50/80/95/100: the 80-boundary
    customer is still A and the 95-boundary customer still B (<=, exact
    integer comparison)."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [
        (1, 10, "O", 50.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 20, "O", 30.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (3, 30, "O", 15.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (4, 40, "O", 5.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
    ]
    o = spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "abc")
    o.write.parquet(d + "/orders.parquet")
    out = {r["abc_class"]: r for r in mining.agg_abc_analysis(spark, d).collect()}
    assert out["A"]["n_customers"] == 2 and out["A"]["revenue"] == 80.0
    assert out["B"]["n_customers"] == 1 and out["B"]["revenue"] == 15.0
    assert out["C"]["n_customers"] == 1 and out["C"]["revenue"] == 5.0
    assert out["A"]["revenue_share"] == 0.8


def test_corr_matrix_planted_series(spark, tmp_path):
    """A perfectly correlated pair gives r = 1, an anti-correlated pair
    r = -1, and a constant series yields null (zero variance)."""
    from big_data_management_and_analytics_spark.operators import mining

    rows, eid = [], 0
    for h, base in enumerate([1.0, 2.0, 3.0, 4.0]):
        for etype, v in (
            ("click", base),            # x
            ("view", 2.0 * base),       # 2x  -> r(click, view) = 1
            ("error", 5.0 - base),      # 5-x -> r(click, error) = -1
            ("signup", 3.0),            # constant -> r = null
        ):
            eid += 1
            rows.append((eid, _ts(f"2024-01-01T{h:02d}:30:00"), 1, etype, v, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "corr")
    ev.write.parquet(d + "/events.parquet")
    out = {
        (r["type_a"], r["type_b"]): r["pearson_r"]
        for r in mining.agg_corr_matrix(spark, d).collect()
    }
    assert out[("click", "view")] == 1.0
    assert out[("click", "error")] == -1.0
    assert out[("click", "signup")] is None
    assert out[("error", "view")] == -1.0


def test_attribution_planted_touches(spark, tmp_path):
    """One purchase with two in-window touches and one stale touch:
    linear credit splits 0.5/0.5, last-touch goes to the later touch,
    the stale touch earns nothing."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 7, "view", 1.0, "{}"),   # > 24h before
        (2, _ts("2024-01-02T09:00:00"), 7, "view", 1.0, "{}"),   # in window
        (3, _ts("2024-01-02T10:00:00"), 7, "click", 1.0, "{}"),  # in window, last
        (4, _ts("2024-01-02T11:00:00"), 7, "purchase", 9.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "attr")
    ev.write.parquet(d + "/events.parquet")
    out = {
        r["touch_type"]: r for r in timeseries.events_attribution(spark, d).collect()
    }
    assert out["view"]["n_assists"] == 1 and out["click"]["n_assists"] == 1
    assert out["click"]["n_last_touch"] == 1 and out["view"]["n_last_touch"] == 0
    assert out["view"]["linear_credit"] == 0.5
    assert out["click"]["linear_credit"] == 0.5


def test_minhash_accuracy_planted_identical_pair(spark, tmp_path):
    """Two identical docs are an LSH candidate pair with estimated and
    exact Jaccard both 1.0 (MAE 0); the disjoint third doc pairs with
    neither."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "web", 30),
            (2, "alpha beta gamma delta epsilon", "en", "web", 30),
            (3, "zig zag zorro quux wobble", "en", "web", 25),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "mha")
    docs.write.parquet(d + "/documents.parquet")
    r = llm_dedup.llm_minhash_accuracy(spark, d).collect()[0]
    assert r["n_candidate_pairs"] == 1
    assert r["mean_est_jaccard"] == 1.0
    assert r["mean_exact_jaccard"] == 1.0
    assert r["mae"] == 0.0
    assert r["n_exact_ge_07"] == 1


def test_ssjoin_contains_near_exact_pairs(spark, registry):
    """Every pair the O(n²) exact baseline reports at >= 0.8 must appear
    in the prefix-filtered exact join (threshold 0.7) with the identical
    rounded Jaccard — the pruned plan loses nothing."""
    near = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in registry["llm_dedup_near_exact"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    ss = {
        (r["da"], r["db"]): r["jaccard"]
        for r in registry["llm_dedup_ssjoin"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert near  # fixture has near-dups
    missing = {p for p in near if p not in ss}
    assert not missing, sorted(missing)[:5]
    for p, j in near.items():
        assert ss[p] == j, (p, j, ss[p])


def test_ssjoin_matches_bruteforce_on_random_sets(spark, tmp_path):
    """Prefix-filter completeness on adversarial random sets: planted
    high-overlap pairs plus noise docs; output must equal the integer-
    exact brute force (10·i >= 7·(na+nb-i)) — nothing missed, nothing
    extra."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(4, 12))
        docs.append((i * 2 + 1, base))
        if rng.random() < 0.5:  # planted near-dup: drop/add one token
            twin = list(base)
            if len(twin) > 4 and rng.random() < 0.5:
                twin.pop(rng.randrange(len(twin)))
            else:
                twin.append(rng.choice([w for w in vocab if w not in twin]))
            docs.append((i * 2 + 2, twin))
    expected = {}
    for x, (ida, ta) in enumerate(docs):
        sa = set(ta)
        for idb, tb in docs[x + 1 :]:
            sb = set(tb)
            a, b = min(ida, idb), max(ida, idb)
            i = len(sa & sb)
            u = len(sa | sb)
            if 10 * i >= 7 * u:
                expected[(a, b)] = round(i / u, 6)
    df = spark.createDataFrame(
        [(i, " ".join(ts), "en", "web", len(" ".join(ts))) for i, ts in docs],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "ssj")
    df.write.parquet(d + "/documents.parquet")
    from big_data_management_and_analytics_spark.functions import llm_dedup

    got = {
        (r["da"], r["db"]): r["jaccard"]
        for r in llm_dedup.llm_dedup_ssjoin(spark, d).collect()
    }
    assert got == expected


def test_ssjoin_ppjoin_bound_zero_slack_first_match(spark, tmp_path):
    """Pin the ppjoin positional bound at its extremal configuration
    (round-4 verdict item 7; bound upgraded in r7 to the complete-
    positional-info form): a pair at EXACTLY J = 0.7 (17 tokens each,
    14 shared) whose 3+3 unshared tokens are the globally rarest, so the
    df-ordered prefix (length 6) opens with all three unshared tokens
    and the three shared prefix tokens sit at ranks 4..6. The aggregate
    bound folds cnt = 3 prefix-prefix matches with last-match positions
    max(pa) = max(pb) = 6, so 17·(cnt + min(na−mpa, nb−mpb)) =
    17·(3 + 11) = 238 = 7·(na+nb) — ZERO slack: one integer off in
    either direction and the filter would wrongly shed a true threshold
    pair. The docstring's proof is exercised, not just stated."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    shared = [f"sh{i:02d}" for i in range(14)]
    ua = ["uaa", "uab", "uac"]  # df=1 → rank before every shared (df=2)
    ub = ["uba", "ubb", "ubc"]
    docs = [
        (1, " ".join(ua + shared)),
        (2, " ".join(ub + shared)),
    ]
    # Planted extremal-geometry check (mirrors the operator's integers):
    na = nb = 17
    plen = na - (7 * na + 9) // 10 + 1
    assert plen == 6  # 3 unshared + 3 shared tokens in each prefix
    cnt, mpa, mpb = 3, 6, 6  # shared prefix tokens at ranks 4..6
    assert 17 * (cnt + min(na - mpa, nb - mpb)) == 7 * (na + nb)  # zero slack
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in docs],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "ppj")
    df.write.parquet(d + "/documents.parquet")
    got = {
        (r["da"], r["db"]): r["jaccard"]
        for r in llm_dedup.llm_dedup_ssjoin(spark, d).collect()
    }
    assert got == {(1, 2): 0.7}


def test_snapshot_diff_planted_changes(spark, tmp_path):
    """Hand-pick keys hitting each diff class: key 3 (17-residue) is an
    insert, key 5 (13-residue) a delete, key 2 (7-residue) an update;
    untouched keys emit nothing."""
    from big_data_management_and_analytics_spark.operators import setops

    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 100.0 + k, "BUILDING") for k in (1, 2, 3, 5, 21)],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    d = str(tmp_path / "snap")
    cust.write.parquet(d + "/customer.parquet")
    out = {r["c_custkey"]: r for r in setops.cdc_snapshot_diff(spark, d).collect()}
    assert out[3]["op"] == "I" and out[3]["old_acctbal"] is None
    assert out[5]["op"] == "D" and out[5]["new_acctbal"] is None
    assert out[2]["op"] == "U" and out[2]["new_acctbal"] == 112.0
    assert 1 not in out and 21 not in out


def test_share_of_parent_sums_to_one(spark, registry):
    """Contribution invariants on the fixture: nation shares sum to ~1
    within each region, and region shares of total sum to ~1."""
    rows = registry["agg_share_of_parent"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_region = {}
    region_share = {}
    for r in rows:
        by_region.setdefault(r["region"], 0.0)
        by_region[r["region"]] += r["share_of_region"]
        region_share[r["region"]] = r["region_share_of_total"]
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-4, (region, s)
    assert abs(sum(region_share.values()) - 1.0) < 1e-4


def test_cumulative_uniques_planted_growth(spark, tmp_path):
    """Three users: two first appear day 1 (one returns day 2 — must not
    recount), one is new day 2: growth curve 2 -> 3."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.0, "{}"),
        (2, _ts("2024-01-01T11:00:00"), 2, "view", 1.0, "{}"),
        (3, _ts("2024-01-02T09:00:00"), 1, "view", 1.0, "{}"),  # returning
        (4, _ts("2024-01-02T10:00:00"), 3, "view", 1.0, "{}"),  # new
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "cumq")
    ev.write.parquet(d + "/events.parquet")
    out = sorted(
        timeseries.events_cumulative_uniques(spark, d).collect(),
        key=lambda r: r["day"],
    )
    assert [(r["new_users"], r["cumulative_users"]) for r in out] == [(2, 2), (1, 3)]


def test_prop_ztest_planted_cohorts(spark, tmp_path):
    """Hand-built cohorts: even users 2/2 high-value converted, odd 0/2
    — z must match the pooled two-proportion formula; all-converted
    pairs guard to null."""
    import math

    from big_data_management_and_analytics_spark.operators import mining

    rows = []
    eid = 0
    # users 2, 4 (cohort 0) convert; users 1, 3 (cohort 1) do not
    for uid, val in ((1, 10.0), (2, 300.0), (3, 20.0), (4, 260.0)):
        eid += 1
        rows.append((eid, _ts("2024-01-01T10:00:00"), uid, "purchase", val, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "zprop")
    ev.write.parquet(d + "/events.parquet")
    r = mining.agg_prop_ztest(spark, d).collect()[0]
    assert (r["n1"], r["c1"], r["n2"], r["c2"]) == (2, 2, 2, 0)
    pooled = 2 / 4
    z = (1.0 - 0.0) / math.sqrt(pooled * (1 - pooled) * (1 / 2 + 1 / 2))
    assert r["z_stat"] == round(z, 6)
    # degenerate case: every user converts -> zero pooled variance -> null
    ev_all = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 1, "purchase", 300.0, "{}"),
         (2, _ts("2024-01-01T10:00:00"), 2, "purchase", 300.0, "{}")],
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d2 = str(tmp_path / "zprop_all")
    ev_all.write.parquet(d2 + "/events.parquet")
    r2 = mining.agg_prop_ztest(spark, d2).collect()[0]
    assert r2["z_stat"] is None and r2["rate_1"] == 1.0 and r2["rate_2"] == 1.0


def test_hhi_bounds_and_monopoly(spark, tmp_path):
    """A region with one nation has HHI 1; an evenly split two-nation
    region has HHI 0.5."""
    from big_data_management_and_analytics_spark.operators import mining

    region = spark.createDataFrame(
        [(0, "MONO"), (1, "DUO")], schema="r_regionkey int, r_name string"
    )
    nation = spark.createDataFrame(
        [(0, "A", 0), (1, "B", 1), (2, "C", 1)],
        schema="n_nationkey int, n_name string, n_regionkey int",
    )
    cust = spark.createDataFrame(
        [(10, "c", 0, 0.0, "B"), (11, "c", 1, 0.0, "B"), (12, "c", 2, 0.0, "B")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, 10, "O", 50.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (2, 11, "O", 30.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (3, 12, "O", 30.0, _ts("2024-01-01T00:00:00"), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "hhi")
    region.write.parquet(d + "/region.parquet")
    nation.write.parquet(d + "/nation.parquet")
    cust.write.parquet(d + "/customer.parquet")
    orders.write.parquet(d + "/orders.parquet")
    out = {r["region"]: r["hhi"] for r in mining.agg_hhi(spark, d).collect()}
    assert out["MONO"] == 1.0
    assert out["DUO"] == 0.5


def test_rag_mrr_bounds_and_recall_consistency(spark, registry):
    """MRR and NDCG sit in [0, 1]; a query with recall 1.0 must have
    NDCG 1.0 and MRR >= 1/5 (the true top-1 is somewhere in the 5-list);
    a query with recall 0 scores 0 on both."""
    recall = {
        r["query_id"]: r["recall_at_5"]
        for r in registry["llm_ann_recall"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    out = {
        r["query_id"]: r
        for r in registry["llm_rag_mrr"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(out) == set(recall)
    for qid, r in out.items():
        assert 0.0 <= r["mrr"] <= 1.0 and 0.0 <= r["ndcg_at_5"] <= 1.0, r
        if recall[qid] == 1.0:
            assert r["ndcg_at_5"] == 1.0 and r["mrr"] >= 0.2, r
        if recall[qid] == 0.0:
            assert r["ndcg_at_5"] == 0.0 and r["mrr"] == 0.0, r


def test_rfm_quintiles_and_segment(spark, registry):
    """Quintile invariants on the fixture: each score dimension splits
    users into five near-equal tiles, the segment concatenates the three
    scores, and the most/least active users land at the extremes."""
    rows = registry["events_rfm"].fn(spark, "/root/testdata/sf0.01").collect()
    n = len(rows)
    assert n > 0
    from collections import Counter

    for dim in ("r_score", "f_score", "m_score"):
        tiles = Counter(r[dim] for r in rows)
        assert set(tiles) == {1, 2, 3, 4, 5}
        assert max(tiles.values()) - min(tiles.values()) <= 1
    for r in rows:
        assert r["rfm_segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    top_freq = max(rows, key=lambda r: (r["frequency"], r["user_id"]))
    assert top_freq["f_score"] == 5
    low_freq = min(rows, key=lambda r: (r["frequency"], r["user_id"]))
    assert low_freq["f_score"] == 1


def test_dau_wau_planted_window(spark, tmp_path):
    """Two users: u1 active day 1 only, u2 active days 1 and 9. WAU on
    day 7 still counts u1 (trailing week); day 8 counts nobody from
    day 1; stickiness = dau/wau."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.0, "{}"),
        (2, _ts("2024-01-01T11:00:00"), 2, "view", 1.0, "{}"),
        (3, _ts("2024-01-09T10:00:00"), 2, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "dauwau")
    ev.write.parquet(d + "/events.parquet")
    out = {r["day"].day: r for r in timeseries.events_dau_wau(spark, d).collect()}
    assert out[1]["dau"] == 2 and out[1]["wau"] == 2 and out[1]["stickiness"] == 1.0
    assert out[7]["dau"] == 0 and out[7]["wau"] == 2  # both still weekly-active
    assert 8 not in out  # nobody weekly-active on day 8
    assert out[9]["dau"] == 1 and out[9]["wau"] == 1


def test_time_to_convert_planted_latency(spark, tmp_path):
    """u1 views at 10:00 and purchases at 10:30 (1800 s); u2 purchased
    BEFORE viewing (excluded); u3 never purchases (excluded)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.0, "{}"),
        (2, _ts("2024-01-01T10:30:00"), 1, "purchase", 9.0, "{}"),
        (3, _ts("2024-01-01T09:00:00"), 2, "purchase", 9.0, "{}"),
        (4, _ts("2024-01-01T09:30:00"), 2, "view", 1.0, "{}"),
        (5, _ts("2024-01-01T11:00:00"), 3, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "ttc")
    ev.write.parquet(d + "/events.parquet")
    r = timeseries.events_time_to_convert(spark, d).collect()[0]
    assert r["n_converted"] == 1
    assert r["median_latency_s"] == 1800.0
    assert r["min_latency_s"] == 1800 and r["max_latency_s"] == 1800


def test_rolling_median_ignores_outlier(spark, tmp_path):
    """Window [1, 1, 1000, 1, 1]: the rolling median at the last hour is
    1.0 (the spike cannot move it), while the even-count window of
    [1, 1000] interpolates to 500.5."""
    from big_data_management_and_analytics_spark.operators import timeseries

    vals = [1.0, 1000.0, 1.0, 1.0, 1.0]
    rows = [
        (i + 1, _ts(f"2024-01-01T{9 + i:02d}:30:00"), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "rmed")
    ev.write.parquet(d + "/events.parquet")
    out = {
        r["bucket"].hour: r["rolling_median"]
        for r in timeseries.win_rolling_median(spark, d).collect()
    }
    assert out[9] == 1.0            # singleton window
    assert out[10] == 500.5         # even window [1, 1000] interpolates
    assert out[11] == 1.0           # odd window [1, 1, 1000]
    assert out[13] == 1.0           # full 5-window with one outlier


def test_cusum_locates_planted_level_shift(spark, tmp_path):
    """A series that jumps from 10 to 50 at hour 10 of 20: the CUSUM
    peak must land at the last pre-shift hour (hour 9), with a negative
    normalized deviation (pre-shift mass below the global mean)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for h in range(20):
        rows.append(
            (h + 1, _ts(f"2024-01-01T{h:02d}:30:00"), 1, "click",
             10.0 if h < 10 else 50.0, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "cusum")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.ts_cusum_changepoint(spark, d).collect()}
    r = out["click"]
    assert r["changepoint_hour"].hour == 9
    assert r["n_hours"] == 20
    assert r["cusum_norm"] < 0


def test_acf_alternating_series(spark, tmp_path):
    """A perfectly alternating hourly series (10, 20, 10, 20, ...) has
    lag-1 autocorrelation −1 and lag-2 autocorrelation +1 exactly."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (h + 1, _ts(f"2024-01-01T{h:02d}:30:00"), 1, "click",
         10.0 if h % 2 == 0 else 20.0, "{}")
        for h in range(12)
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "acf")
    ev.write.parquet(d + "/events.parquet")
    out = {r["lag"]: r for r in timeseries.ts_acf(spark, d).collect()}
    assert out[1]["acf"] == -1.0
    assert out[2]["acf"] == 1.0
    assert out[1]["n_pairs"] == 11
    assert out[2]["n_pairs"] == 10


def test_seasonal_decompose_planted_deviation(spark, tmp_path):
    """Two days where every clock hour repeats its value except hour 9
    (10 vs 30): hour-9 deviations are ±10 around the seasonal mean 20,
    all other hours decompose to deviation 0."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for day in (1, 2):
        for h in (8, 9, 10):
            eid += 1
            v = 5.0 if h != 9 else (10.0 if day == 1 else 30.0)
            rows.append(
                (eid, _ts(f"2024-01-0{day}T{h:02d}:15:00"), 1, "click", v, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "seas")
    ev.write.parquet(d + "/events.parquet")
    out = timeseries.ts_seasonal_decompose(spark, d).collect()
    by_key = {(r["hb"].day, r["hb"].hour): r for r in out}
    assert by_key[(1, 9)]["seasonal_mean"] == 20.0
    assert by_key[(1, 9)]["deviation"] == -10.0
    assert by_key[(2, 9)]["deviation"] == 10.0
    assert all(
        by_key[(day, h)]["deviation"] == 0.0
        for day in (1, 2) for h in (8, 10)
    )


def test_pattern_match_planted_journeys(spark, tmp_path):
    """User 1 (view→click→purchase) converts once; user 2's
    view→error→click→purchase also matches v[ce]*p; user 3's
    purchase-then-view never matches; signups count independently."""
    from big_data_management_and_analytics_spark.operators import timeseries

    seq = [
        (1, "view"), (1, "click"), (1, "purchase"),
        (2, "signup"), (2, "view"), (2, "error"), (2, "click"),
        (2, "purchase"),
        (3, "purchase"), (3, "view"),
    ]
    rows = [
        (i + 1, _ts(f"2024-01-01T10:{i:02d}:00"), u, t, 1.0, "{}")
        for i, (u, t) in enumerate(seq)
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "pat")
    ev.write.parquet(d + "/events.parquet")
    out = {r["user_id"]: r
           for r in timeseries.events_pattern_match(spark, d).collect()}
    assert out[1]["n_conversions"] == 1 and out[1]["n_signups"] == 0
    assert out[2]["n_conversions"] == 1 and out[2]["n_signups"] == 1
    assert out[3]["n_conversions"] == 0 and out[3]["has_view"] == 1
    assert out[1]["n_events"] == 3


def test_dq_profile_planted_nulls_and_distincts(spark, tmp_path):
    """Planted orders: one NULL custkey, two distinct statuses, and the
    double min/max rendered through DECIMAL(18,2) as canonical text."""
    from big_data_management_and_analytics_spark.operators import aggregations

    rows = [
        (1, 10, "O", 100.5, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 10, "F", 250.25, _ts("2024-01-02T00:00:00"), "2-HIGH"),
        (3, None, "F", 99.99, _ts("2024-01-03T00:00:00"), "2-HIGH"),
    ]
    orders = spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "dqp")
    orders.write.parquet(d + "/orders.parquet")
    out = {r["col_name"]: r
           for r in aggregations.dq_profile(spark, d).collect()}
    assert set(out) == {"o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice", "o_orderpriority"}
    assert all(r["n_rows"] == 3 for r in out.values())
    assert out["o_custkey"]["n_null"] == 1
    assert out["o_custkey"]["n_distinct"] == 1
    assert out["o_orderstatus"]["n_distinct"] == 2
    assert out["o_totalprice"]["min_str"] == "99.99"
    assert out["o_totalprice"]["max_str"] == "250.25"
    assert out["o_orderkey"]["max_str"] == "3"


def test_entropy_pure_and_uniform_groups(spark, tmp_path):
    """A customer with one priority has entropy exactly 0; a 2+2 split
    over two priorities gives 2·round(0.5·ln 2, 6) = 0.693148 (the
    quantized-sum convention, deterministic both engines)."""
    from big_data_management_and_analytics_spark.operators import aggregations

    rows = [
        (1, 100, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 100, "O", 1.0, _ts("2024-01-02T00:00:00"), "1-URGENT"),
        (3, 100, "O", 1.0, _ts("2024-01-03T00:00:00"), "1-URGENT"),
        (4, 200, "O", 1.0, _ts("2024-01-04T00:00:00"), "1-URGENT"),
        (5, 200, "O", 1.0, _ts("2024-01-05T00:00:00"), "1-URGENT"),
        (6, 200, "O", 1.0, _ts("2024-01-06T00:00:00"), "2-HIGH"),
        (7, 200, "O", 1.0, _ts("2024-01-07T00:00:00"), "2-HIGH"),
    ]
    orders = spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "ent")
    orders.write.parquet(d + "/orders.parquet")
    out = {r["o_custkey"]: r
           for r in aggregations.agg_entropy(spark, d).collect()}
    assert out[100]["entropy"] == 0.0 and out[100]["n_categories"] == 1
    assert out[200]["entropy"] == 0.693148
    assert out[200]["n_orders"] == 4 and out[200]["n_categories"] == 2


def test_countmin_single_key_exact_and_overestimate_sign(spark, tmp_path):
    """With a single key the sketch cannot collide: estimate == exact.
    On the shared fixture every estimate is >= exact (one-sided error)."""
    from big_data_management_and_analytics_spark.operators import aggregations
    from tests.conftest import SF_SMALL

    rows = [
        (i + 1, _ts("2024-01-01T00:00:00"), 7, "click", 1.0, "{}")
        for i in range(5)
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "cms")
    ev.write.parquet(d + "/events.parquet")
    solo = aggregations.agg_countmin_sketch(spark, d).collect()
    assert len(solo) == 1
    assert solo[0]["cms_est"] == solo[0]["exact_cnt"] == 5

    full = aggregations.agg_countmin_sketch(spark, SF_SMALL).collect()
    assert len(full) > 1
    assert all(r["overestimate"] >= 0 for r in full)


def test_phash_neardup_planted_images(spark, tmp_path):
    """Identical texts produce identical aHashes (hamming 0); a
    half-low/half-high raster is 32 bits away from a flat one (all
    blocks equal the mean -> every bit 0), band-matched as a candidate
    through its four all-zero low bands yet rejected by the hamming
    filter."""
    from big_data_management_and_analytics_spark.functions import multimodal

    # 512 chars = a 16x32 raster with no padding and row-block = r//2,
    # so the half/half doc splits exactly into 32 low + 32 high blocks.
    base = "ab" * 256
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),
        (3, "a" * 256 + "z" * 256, "en", "web", 512),
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "phash")
    docs.write.parquet(d + "/documents.parquet")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in multimodal.mm_phash_neardup(spark, d).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # direct numpy re-derivation of the half/half hash: low half 0-bits,
    # high half 1-bits -> eight 8-bit bands (0,0,0,0, 255,255,255,255)
    import pandas as pd

    payload = multimodal._media_table(spark, d).filter("doc_id = 3").collect()[0][
        "payload"
    ]
    bands = multimodal.ahash_bands_batch(pd.Series([bytes(payload)]))
    assert list(bands.iloc[0]) == [0, 0, 0, 0, 255, 255, 255, 255]


def test_phash_groups_one_hop_union(spark, tmp_path):
    """Identical docs 1/2 share every band; the half/half doc 3 still
    shares its all-zero low bands with them, so the 1-hop union pulls
    all three into doc 1's group (coarser than the pair operator's
    hamming filter — by design, like minhash grouping)."""
    from big_data_management_and_analytics_spark.functions import multimodal

    base = "ab" * 256
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),
        (3, "a" * 256 + "z" * 256, "en", "web", 512),
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "pgroup")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r
           for r in multimodal.mm_phash_groups(spark, d).collect()}
    assert out[1]["group_rep"] == 1 and not out[1]["is_candidate_dup"]
    assert out[2]["group_rep"] == 1 and out[2]["is_candidate_dup"]
    assert out[3]["group_rep"] == 1  # shares the all-zero b0/b1 buckets
    assert out[1]["max_bucket_size"] == 3


def test_snaive_backtest_planted_spike(spark, tmp_path):
    """48 hourly points of 10.0 with one 20.0 spike at hour 36: the
    24 backtest pairs have one 10.00-unit error -> MAE 1000/(100*24)
    and a single MAPE term of 10/20 (relative to the spike ACTUAL)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for h in range(48):
        day, hod = divmod(h, 24)
        rows.append(
            (h + 1, _ts(f"2024-01-0{day + 1}T{hod:02d}:30:00"), 1, "click",
             20.0 if h == 36 else 10.0, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "snaive")
    ev.write.parquet(d + "/events.parquet")
    out = timeseries.ts_forecast_snaive(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_backtest"] == 24 and r["n_nonzero"] == 24
    assert r["mae"] == round(1000 / (100.0 * 24), 6)
    assert r["mape"] == round(0.5 / 24, 6)


def test_freshness_planted_staleness(spark, tmp_path):
    """Series 'click' stops 5 hours before 'view' (the corpus max):
    staleness 5 vs 0, spans measured on hour-truncated bounds."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [
        (1, _ts("2024-01-01T08:10:00"), 1, "click", 1.0, "{}"),
        (2, _ts("2024-01-01T10:40:00"), 1, "click", 1.0, "{}"),
        (3, _ts("2024-01-01T09:20:00"), 1, "view", 1.0, "{}"),
        (4, _ts("2024-01-01T15:50:00"), 1, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "fresh")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.dq_freshness(spark, d).collect()}
    assert out["view"]["staleness_hours"] == 0
    assert out["click"]["staleness_hours"] == 5
    assert out["click"]["span_hours"] == 2
    assert out["view"]["span_hours"] == 6
    assert out["click"]["n_events"] == 2


def test_anomaly_seasonal_planted_spike(spark, tmp_path):
    """Base grid: 4 days x 6 clock hours, value 10+day — every hour of
    day repeats the same {-1.5,-0.5,0.5,1.5} deviation ladder, so
    med=-0.5/MAD=1.0 once one cell (day 1, hod 3) spikes to 100. The
    spike drags its whole hour-of-day column past the 3-MAD fence: all
    four cells of hod 3 flag, nothing else does."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for day in range(4):
        for hod in range(6):
            eid += 1
            v = 100.0 if (day == 1 and hod == 3) else float(10 + day)
            rows.append(
                (eid, _ts(f"2024-01-0{day + 1}T{hod:02d}:15:00"), 1,
                 "click", v, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "anomseas")
    ev.write.parquet(d + "/events.parquet")
    out = timeseries.ts_anomaly_seasonal(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hours"] == 24
    assert r["median_dev"] == -0.5
    assert r["mad_dev"] == 1.0
    assert r["n_anomalies"] == 4


def test_inter_event_time_planted_gaps(spark, tmp_path):
    """Three events at +0s, +10s, +40s give gaps {10, 30}: median
    interpolates to 20.0, p90 to 28.0, max 30; sub-second offsets must
    floor on the DIFFERENCE (the 0.4s->10.6s gap is 10s, not 9 or 11)."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0, 400000)
    rows = [
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(seconds=10, microseconds=200000), 7, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(seconds=40, microseconds=200000), 7, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "iet")
    ev.write.parquet(d + "/events.parquet")
    out = timeseries.events_inter_event_time(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_gaps"] == 2
    assert r["median_gap_s"] == 20.0
    assert r["p90_gap_s"] == 28.0
    assert r["max_gap_s"] == 30


def test_streaks_planted_runs(spark, tmp_path):
    """Active days {1,2,3, 7,8, 20} -> three streaks, longest 3 starting
    at the earliest run; a tie between two 2-day runs must pick the
    EARLIER start (the len*2^21 - start key)."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    def day(n, uid, eid):
        return (eid, dt.datetime(2024, 1, n, 12, 0, 0), uid, "click", 1.0, "{}")

    rows = [
        # user 1: runs [1-3], [7-8], [20]
        day(1, 1, 1), day(2, 1, 2), day(3, 1, 3),
        day(7, 1, 4), day(8, 1, 5), day(20, 1, 6),
        # duplicate event same day must not split streaks
        day(2, 1, 7),
        # user 2: two 2-day runs [5-6], [10-11] -> tie, pick start=5
        day(5, 2, 8), day(6, 2, 9), day(10, 2, 10), day(11, 2, 11),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "streaks")
    ev.write.parquet(d + "/events.parquet")
    out = {r["user_id"]: r for r in timeseries.win_streaks(spark, d).collect()}
    epoch = dt.date(1970, 1, 1)
    assert out[1]["n_streaks"] == 3
    assert out[1]["longest_streak"] == 3
    assert out[1]["longest_start_day"] == (dt.date(2024, 1, 1) - epoch).days
    assert out[1]["n_active_days"] == 6
    assert out[2]["longest_streak"] == 2
    assert out[2]["longest_start_day"] == (dt.date(2024, 1, 5) - epoch).days


def test_readability_planted_prose(spark, tmp_path):
    """'go on. we do it.' -> 2 sentences, 5 words, 5 vowel groups; the
    Flesch formula reproduces exactly from those integers. A doc with
    no terminal punctuation floors sentences at 1 in the score but
    reports the raw 0 count."""
    from big_data_management_and_analytics_spark.functions import llm_text

    rows = [
        (1, "go on. we do it.", "en", "web", 16),
        (2, "no punctuation here", "en", "web", 19),
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "read")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r
           for r in llm_text.llm_text_readability(spark, d).collect()}
    r1 = out[1]
    assert r1["n_sentences"] == 2 and r1["n_words"] == 5
    assert r1["n_syllable_groups"] == 5  # o, o, e, o, i
    assert r1["flesch_score"] == round(
        206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5), 6
    )
    r2 = out[2]
    assert r2["n_sentences"] == 0
    assert r2["flesch_score"] == round(
        206.835 - 1.015 * (3 / 1) - 84.6 * (r2["n_syllable_groups"] / 3), 6
    )


def test_dataset_card_planted_corpus(spark, tmp_path):
    """3 docs where two share identical text: 1 surplus duplicate, 2
    languages, dup rate 1/3, token arithmetic exact."""
    from big_data_management_and_analytics_spark.functions import llm_text

    rows = [
        (1, "hello world", "en", "web", 11),
        (2, "hello world", "en", "books", 11),
        (3, "bonjour tout le monde", "fr", "web", 21),
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "card")
    docs.write.parquet(d + "/documents.parquet")
    out = llm_text.llm_dataset_card(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 3 and r["n_langs"] == 2 and r["n_sources"] == 2
    assert r["total_tokens"] == 2 + 2 + 4
    assert r["n_exact_dup_docs"] == 1
    assert r["exact_dup_rate"] == round(1 / 3, 6)
    assert r["pct_english"] == round(2 / 3, 6)


def test_degree_stats_planted_bipartite(spark, tmp_path):
    """Customers {10:2 suppliers, 20:1}, suppliers {7:2 customers, 8:1}
    with a duplicate lineitem that must not double-count the edge."""
    from big_data_management_and_analytics_spark.operators import graph

    ts0 = _ts("2024-01-01T00:00:00")
    orders = spark.createDataFrame(
        [(k, c, "O", 1.0, ts0, "1-URGENT") for k, c in
         [(1, 10), (2, 10), (3, 20)]],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(k, 1, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts0) for k, sk in
         [(1, 7), (1, 7), (2, 8), (3, 7)]],  # (1,7) duplicated
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    d = str(tmp_path / "degs")
    orders.write.parquet(d + "/orders.parquet")
    li.write.parquet(d + "/lineitem.parquet")
    out = {(r["side"], r["degree"]): r["n_nodes"]
           for r in graph.graph_degree_stats(spark, d).collect()}
    assert out[("customer", 2)] == 1   # cust 10 -> {7, 8}
    assert out[("customer", 1)] == 1   # cust 20 -> {7}
    assert out[("supplier", 2)] == 1   # supp 7 -> {10, 20}
    assert out[("supplier", 1)] == 1   # supp 8 -> {10}


def test_chisq_independent_is_zero_and_perfect_is_one(spark, tmp_path):
    """Proportional seg x priority counts give chi2 exactly 0; a perfectly
    diagonal 2x2 table gives Cramer's V exactly 1."""
    from big_data_management_and_analytics_spark.operators import mining

    ts0 = _ts("2024-01-01T00:00:00")
    cust = spark.createDataFrame(
        [(1, "c1", 1, 0.0, "SEGX"), (2, "c2", 1, 0.0, "SEGY")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    # SEGX: 2 urgent + 2 low; SEGY: 1 urgent + 1 low -> independent.
    ind = [(k, 1, "O", 1.0, ts0, p) for k, p in
           [(1, "1-URGENT"), (2, "1-URGENT"), (3, "5-LOW"), (4, "5-LOW")]]
    ind += [(k, 2, "O", 1.0, ts0, p) for k, p in
            [(5, "1-URGENT"), (6, "5-LOW")]]
    orders = spark.createDataFrame(
        ind,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "chisq_ind")
    cust.write.parquet(d + "/customer.parquet")
    orders.write.parquet(d + "/orders.parquet")
    r = mining.agg_chisq_test(spark, d).collect()[0]
    assert r["n"] == 6 and r["dof"] == 1
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0

    # SEGX all urgent, SEGY all low -> chi2 = n, V = 1.
    diag = [(1, 1, "O", 1.0, ts0, "1-URGENT"), (2, 1, "O", 1.0, ts0, "1-URGENT"),
            (3, 2, "O", 1.0, ts0, "5-LOW"), (4, 2, "O", 1.0, ts0, "5-LOW")]
    orders2 = spark.createDataFrame(
        diag,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d2 = str(tmp_path / "chisq_diag")
    cust.write.parquet(d2 + "/customer.parquet")
    orders2.write.parquet(d2 + "/orders.parquet")
    r2 = mining.agg_chisq_test(spark, d2).collect()[0]
    assert r2["chi2"] == 4.0 and r2["cramers_v"] == 1.0


def test_ks_disjoint_supports_and_identical(spark, tmp_path):
    """Disjoint value supports give D = 1 at the low group's max value;
    identical distributions give D = 0."""
    from big_data_management_and_analytics_spark.operators import mining

    ts0 = _ts("2024-01-01T00:00:00")

    def write(rows, name):
        df = spark.createDataFrame(
            [(i + 1, 1, "O", v, ts0, p) for i, (v, p) in enumerate(rows)],
            schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        )
        d = str(tmp_path / name)
        df.write.parquet(d + "/orders.parquet")
        return d

    d = write([(1.0, "5-LOW"), (2.0, "5-LOW"),
               (3.0, "1-URGENT"), (4.0, "1-URGENT")], "ks_disjoint")
    r = mining.agg_ks_test(spark, d).collect()[0]
    assert r["n0"] == 2 and r["n1"] == 2
    assert r["ks_d"] == 1.0 and r["at_value"] == 2.0

    d2 = write([(1.0, "5-LOW"), (2.0, "5-LOW"),
                (1.0, "1-URGENT"), (2.0, "1-URGENT")], "ks_same")
    r2 = mining.agg_ks_test(spark, d2).collect()[0]
    assert r2["ks_d"] == 0.0 and r2["at_value"] == 1.0


def test_mannwhitney_fully_separated(spark, tmp_path):
    """Group LOW = {1,2}, URGENT = {3,4}: U0 = 0, U1 = 4,
    z = -2/sqrt(5/3) = -1.549193 (no ties)."""
    from big_data_management_and_analytics_spark.operators import mining

    ts0 = _ts("2024-01-01T00:00:00")
    df = spark.createDataFrame(
        [(1, 1, "O", 1.0, ts0, "5-LOW"), (2, 1, "O", 2.0, ts0, "5-LOW"),
         (3, 1, "O", 3.0, ts0, "1-URGENT"), (4, 1, "O", 4.0, ts0, "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "mwu")
    df.write.parquet(d + "/orders.parquet")
    r = mining.agg_mannwhitney(spark, d).collect()[0]
    assert r["n0"] == 2 and r["n1"] == 2
    assert r["u0"] == 0.0 and r["u1"] == 4.0
    assert r["z"] == -1.549193


def test_theil_sen_recovers_line_despite_outlier(spark, tmp_path):
    """Monthly revenue exactly 2*m + 5 dollars (m = absolute month index)
    with ONE rogue month +1000: the pairwise-slope median still returns
    slope 2.0 and intercept 5.0 — the robustness OLS lacks."""
    from big_data_management_and_analytics_spark.operators import timeseries

    cust = spark.createDataFrame(
        [(1, "c1", 1, 0.0, "AUTO")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    rows = []
    for k, month in enumerate(range(1, 7), start=1):
        m = 2024 * 12 + month
        price = 2.0 * m + 5.0 + (1000.0 if month == 3 else 0.0)
        rows.append((k, 1, "O", price, _ts(f"2024-{month:02d}-15T00:00:00"), "1-URGENT"))
    orders = spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "theil")
    cust.write.parquet(d + "/customer.parquet")
    orders.write.parquet(d + "/orders.parquet")
    r = timeseries.ts_theil_sen(spark, d).collect()[0]
    assert r["n_points"] == 6 and r["n_pairs"] == 15
    assert r["slope_monthly"] == 2.0
    assert r["intercept"] == 5.0


def test_holt_linear_tracks_exact_trend(spark, tmp_path):
    """A perfectly linear series is a fixed point of Holt smoothing:
    level = last value, trend = the step, forecast = next value.
    Single-event series are excluded (need x2 for the trend init)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [(h + 1, _ts(f"2024-01-01T{h:02d}:00:00"), 1, "click",
             10.0 + 2.0 * h, "{}") for h in range(4)]
    rows.append((99, _ts("2024-01-01T00:00:00"), 2, "view", 7.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "holt")
    ev.write.parquet(d + "/events.parquet")
    out = timeseries.ts_holt_linear(spark, d).collect()
    assert len(out) == 1  # the 1-event series is filtered out
    r = out[0]
    assert r["n_events"] == 4
    assert r["level"] == 16.0 and r["trend"] == 2.0 and r["forecast_1"] == 18.0


def test_url_parse_components(spark, tmp_path):
    from big_data_management_and_analytics_spark.functions import strings

    docs = spark.createDataFrame(
        [(42, "hello", "en", "news", 5)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "urls")
    docs.write.parquet(d + "/documents.parquet")
    r = strings.str_url_parse(spark, d).collect()[0]
    assert r["url"] == "https://news.example.com/en/doc-42?ref=0&utm=x#s-0"
    assert r["proto"] == "https"
    assert r["host"] == "news.example.com"
    assert r["path"] == "/en/doc-42"
    assert r["query"] == "ref=0&utm=x"
    assert r["ref_param"] == "0"
    assert r["fragment"] == "s-0"


def test_tokenizer_fertility_micro_average(spark, tmp_path):
    """Micro-averaged fertility: en = 5 bpe-ish / 5 ws = 1.0; the
    punctuation-heavy lang fragments to 3 tokens per word."""
    from big_data_management_and_analytics_spark.functions import llm_text

    docs = spark.createDataFrame(
        [(1, "ab cd", "en", "s", 5), (2, "x y z", "en", "s", 5),
         (3, "a,b", "de", "s", 3)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "fert")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["lang"]: r for r in llm_text.llm_tokenizer_fertility(spark, d).collect()}
    en, de = out["en"], out["de"]
    assert en["n_docs"] == 2 and en["ws_tokens"] == 5 and en["bpe_ish_tokens"] == 5
    assert en["fertility"] == 1.0 and en["chars_per_token"] == 2.0
    assert de["ws_tokens"] == 1 and de["bpe_ish_tokens"] == 3
    assert de["fertility"] == 3.0 and de["chars_per_token"] == 1.0


def test_rolling_uniques_range_frame_and_gap(spark, tmp_path):
    """Hour gaps must shrink the 3-hour frame (range, not rows): the
    h5 bucket sees only its own users, while contiguous hours union."""
    from big_data_management_and_analytics_spark.operators import windows

    rows, eid = [], 0
    for h, users in [(0, [1, 2]), (1, [2, 3]), (5, [9])]:
        for u in users:
            eid += 1
            rows.append((eid, _ts(f"2024-01-01T{h:02d}:10:00"), u, "click", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "rollu")
    ev.write.parquet(d + "/events.parquet")
    out = {r["hb"].hour: r["uniques_3h"]
           for r in windows.win_count_distinct_rolling(spark, d).collect()}
    assert out[0] == 2          # {1,2}
    assert out[1] == 3          # {1,2,3}
    assert out[5] == 1          # gap: frame h3..h5 holds only h5


def test_pagination_page_content(spark, tmp_path):
    """120 orders priced by key: rows 101-150 of the DESC ranking are
    exactly keys 1..20 (the 20 cheapest)."""
    from big_data_management_and_analytics_spark.operators import sorts

    ts0 = _ts("2024-01-01T00:00:00")
    orders = spark.createDataFrame(
        [(k, 1, "O", float(k), ts0, "1-URGENT") for k in range(1, 121)],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "page")
    orders.write.parquet(d + "/orders.parquet")
    out = sorts.limit_offset_pagination(spark, d).collect()
    assert len(out) == 20
    assert sorted(r["o_orderkey"] for r in out) == list(range(1, 21))


def test_natural_sort_orders_2_before_10(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import sorts

    parts = spark.createDataFrame(
        [(1, "n", "BrandA", "t", 10, 1.0), (2, "n", "BrandA", "t", 2, 1.0),
         (3, "n", "BrandA", "t", 1, 1.0)],
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    d = str(tmp_path / "nat")
    parts.write.parquet(d + "/part.parquet")
    out = {r["label"]: r["sort_pos"] for r in sorts.sort_natural(spark, d).collect()}
    assert out["item-1-BrandA"] == 1
    assert out["item-2-BrandA"] == 2    # lexicographic would put 10 here
    assert out["item-10-BrandA"] == 3


def test_pandas_window_trimmed_mean(spark, tmp_path):
    """Trailing-5 trimmed mean over 10,20,30,40,50: the full frame drops
    10 and 50 -> 30.0; the 3-row frame drops its ends -> 20.0; the 2-row
    frame falls back to the plain mean 15.0."""
    from big_data_management_and_analytics_spark.functions import udfs

    rows = [(h + 1, _ts(f"2024-01-01T{h:02d}:00:00"), 1, "click",
             10.0 * (h + 1), "{}") for h in range(5)]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "pwin")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_id"]: r["trimmed_mean"]
           for r in udfs.udf_pandas_window(spark, d).collect()}
    assert out[1] == 10.0
    assert out[2] == 15.0
    assert out[3] == 20.0
    assert out[4] == 25.0
    assert out[5] == 30.0


def test_scene_cut_brute_force(spark, tmp_path):
    """Re-derive every frame sum and cut flag from the raw payload bytes
    in plain Python and require exact equality (header + padding
    included)."""
    from big_data_management_and_analytics_spark.functions import multimodal

    texts = {1: "a" * 300, 2: "word " * 40, 3: "z"}
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "scut")
    docs.write.parquet(d + "/documents.parquet")
    out = {(r["doc_id"], r["frame_idx"]): r
           for r in multimodal.mm_scene_cut(spark, d).collect()}

    import math
    for i, t in texts.items():
        pix = t.encode()
        h = math.ceil(len(pix) / 32)
        payload = f"P5\n32 {h}\n255\n".encode() + pix + b" " * (h * 32 - len(pix))
        frames = [payload[f * 128:(f + 1) * 128]
                  for f in range(math.ceil(len(payload) / 128))]
        prev = None
        for fi, fb in enumerate(frames):
            r = out[(i, fi)]
            assert r["fsum"] == sum(fb) and r["flen"] == len(fb)
            if prev is None:
                assert r["is_cut"] is False
            else:
                ps, pl = prev
                assert r["is_cut"] == (
                    abs(r["fsum"] * pl - ps * r["flen"]) * 20
                    > 255 * r["flen"] * pl
                )
            prev = (r["fsum"], r["flen"])
    assert len(out) == sum(
        math.ceil((math.ceil(len(t.encode()) / 32) * 32
                   + len(f"P5\n32 {math.ceil(len(t.encode())/32)}\n255\n")) / 128)
        for t in texts.values()
    )


def _kcore_cascade_dir(spark, tmp_path) -> str:
    """K5,5 plus a degree-4 customer X and a supplier T whose 5th
    neighbor is X: round 1 peels X, round 2 peels T (the cascade)."""
    edges = [(c, s) for c in range(1, 6) for s in range(1, 6)]
    edges += [(6, s) for s in (1, 2, 3, 6)]      # X: degree 4
    edges += [(c, 6) for c in range(1, 5)]       # T: c1-c4 + X = degree 5
    ts0 = _ts("2024-01-01T00:00:00")
    orders = spark.createDataFrame(
        [(k, c, "O", 1.0, ts0, "1-URGENT") for k, (c, _) in enumerate(edges, 1)],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(k, 1, s, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts0)
         for k, (_, s) in enumerate(edges, 1)],
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    d = str(tmp_path / "kcore")
    orders.write.parquet(d + "/orders.parquet")
    li.write.parquet(d + "/lineitem.parquet")
    return d


def test_kcore_cascade_peel(spark, tmp_path):
    """The surviving 5-core of the cascade fixture is exactly K5,5 with
    every degree 5."""
    from big_data_management_and_analytics_spark.operators import graph

    out = graph.graph_kcore(spark, _kcore_cascade_dir(spark, tmp_path)).collect()
    survivors = {(r["side"], r["node_id"]): r["core_degree"] for r in out}
    assert len(survivors) == 10
    assert all(v == 5 for v in survivors.values())
    assert ("customer", 6) not in survivors and ("supplier", 6) not in survivors


@pytest.mark.parametrize("rounds", [1, 2])
def test_kcore_fails_loudly_short_of_its_fixed_point(
    spark, tmp_path, monkeypatch, rounds
):
    """With the peel bound below the cascade's 2 rounds, graph_kcore raises
    instead of returning a graph that still holds a degree-4 node; with
    the bound at 2 the last round reached the fixed point and the 5-core
    is returned."""
    from big_data_management_and_analytics_spark.operators import graph

    monkeypatch.setattr(graph, "K_CORE_ROUNDS", rounds)
    d = _kcore_cascade_dir(spark, tmp_path)
    if rounds == 1:
        with pytest.raises(RuntimeError, match="fixed point within 1 rounds"):
            graph.graph_kcore(spark, d)
    else:
        assert graph.graph_kcore(spark, d).count() == 10


def test_kcore_output_is_fixed_point(spark):
    """Every surviving node's in-core degree must be >= k — proof the
    peel reached its fixed point within the unroll bound."""
    from big_data_management_and_analytics_spark.operators import graph

    out = graph.graph_kcore(spark, "/root/testdata/sf0.001").collect()
    assert out and all(r["core_degree"] >= graph.K_CORE_K for r in out)


def test_binaryfile_roundtrip_digest(spark, tmp_path):
    """The per-lang corpus file must contain the texts joined in doc_id
    order plus the text-writer newline — verified against hashlib."""
    import hashlib

    from big_data_management_and_analytics_spark.sources import scans

    docs = spark.createDataFrame(
        [(2, "beta", "en", "s", 4), (1, "alpha", "en", "s", 5),
         (3, "gamma", "de", "s", 5)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "binf")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["lang"]: r for r in scans.src_binaryfile(spark, d).collect()}
    en = b"alpha\nbeta\n"          # doc_id order, trailing writer newline
    de = b"gamma\n"
    assert out["en"]["n_bytes"] == len(en)
    assert out["en"]["content_md5"] == hashlib.md5(en).hexdigest()
    assert out["de"]["content_md5"] == hashlib.md5(de).hexdigest()


def test_sink_datasource_lossless(spark, tmp_path):
    """The custom JSONL sink must preserve every row and every cent."""
    from big_data_management_and_analytics_spark.sources import pysource

    rows = [(i, _ts("2024-01-01T00:00:00"), 1, "click" if i % 2 else "view",
             i * 1.11, "{}") for i in range(1, 21)]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "sinkds")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_type"]: r for r in
           pysource.sink_custom_datasource(spark, d).collect()}
    assert out["click"]["n_events"] == 10 and out["view"]["n_events"] == 10
    exp_click = sum(round(i * 1.11 * 100) for i in range(1, 21) if i % 2)
    assert out["click"]["sum_cents"] == exp_click


def test_dedup_canonical_prefers_richest_variant(spark, tmp_path):
    """Case/punctuation/whitespace variants collapse to one group; the
    canonical survivor is the longest raw form (min doc_id on ties)."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11),
         (2, "Hello, World!", "en", "s", 13),
         (3, "HELLO   world", "en", "s", 13),
         (4, "something else", "en", "s", 14)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "canon")
    docs.write.parquet(d + "/documents.parquet")
    out = llm_dedup.llm_dedup_canonical(spark, d).collect()
    groups = {r["canonical_doc_id"]: r for r in out}
    assert len(out) == 2
    dup = [r for r in out if r["n_variants"] == 3][0]
    assert dup["canonical_doc_id"] == 2      # 13 chars, min doc_id on tie
    assert dup["canonical_chars"] == 13 and dup["n_dropped"] == 2
    assert groups[4]["n_variants"] == 1 and groups[4]["n_dropped"] == 0


def test_udtf_table_arg_journey(spark, tmp_path):
    from big_data_management_and_analytics_spark.functions import udfs

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 7, "signup", 1.0, "{}"),
        (2, _ts("2024-01-01T00:30:00"), 7, "click", 1.0, "{}"),
        (3, _ts("2024-01-01T02:00:10"), 7, "purchase", 1.0, "{}"),
        (4, _ts("2024-01-01T05:00:00"), 9, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "udtftab")
    ev.write.parquet(d + "/events.parquet")
    out = {r["user_id"]: r for r in udfs.udtf_table_arg(spark, d).collect()}
    assert out[7]["n_events"] == 3
    assert out[7]["first_type"] == "signup" and out[7]["last_type"] == "purchase"
    assert out[7]["span_s"] == 2 * 3600 + 10
    assert out[9]["n_events"] == 1 and out[9]["span_s"] == 0


def test_reconciliation_counts(spark, tmp_path):
    """Order 1 reconciles exactly, order 2 is off by 50 cents, order 3
    has no lines (orphan)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    ts0 = _ts("2024-01-01T00:00:00")
    li = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 100.0, 0.0, 0.10, "N", "O", ts0),   # 110.00
         (1, 1, 1, 2, 1.0, 50.0, 0.10, 0.0, "N", "O", ts0),    # 45.00
         (2, 1, 1, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", ts0)],   # 200.00
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [(1, 1, "O", 155.00, ts0, "1-URGENT"),
         (2, 1, "O", 200.50, ts0, "1-URGENT"),
         (3, 1, "O", 10.00, ts0, "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "recon")
    li.write.parquet(d + "/lineitem.parquet")
    orders.write.parquet(d + "/orders.parquet")
    r = timeseries.dq_reconciliation(spark, d).collect()[0]
    assert r["n_orders"] == 3 and r["n_orphan"] == 1
    assert r["n_matched"] == 1 and r["n_mismatched"] == 1
    assert r["max_abs_diff_cents"] == 50 and r["sum_abs_diff_cents"] == 50


def test_decay_score_halves_per_hour(spark, tmp_path):
    """Events of 1.00 at the anchor, 1h and 2h back score 1 + 0.5 +
    0.25 = 1.75; a 50-hour-old event is excluded entirely."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [(1, _ts("2024-01-03T02:15:00"), 1, "click", 1.0, "{}"),
            (2, _ts("2024-01-03T01:05:00"), 1, "click", 1.0, "{}"),
            (3, _ts("2024-01-03T00:45:00"), 1, "click", 1.0, "{}"),
            (4, _ts("2024-01-01T00:00:00"), 1, "click", 100.0, "{}")]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "decay")
    ev.write.parquet(d + "/events.parquet")
    r = timeseries.win_decay_score(spark, d).collect()[0]
    assert r["n_recent"] == 3
    assert r["decay_score"] == 1.75


def test_regr_multi_recovers_plane(spark, tmp_path):
    """Totals on the exact plane y = 5 + 2*x1 + 3*x2 recover the three
    coefficients exactly (x1 = line count, x2 = total quantity)."""
    from big_data_management_and_analytics_spark.operators import mining

    ts0 = _ts("2024-01-01T00:00:00")
    specs = {1: (1, 10), 2: (2, 10), 3: (1, 20), 4: (3, 15)}
    li_rows = []
    for ok, (x1, x2) in specs.items():
        qs = [x2 // x1] * x1
        qs[0] += x2 - sum(qs)
        for ln, q in enumerate(qs, 1):
            li_rows.append((ok, 1, 1, ln, float(q), 1.0, 0.0, 0.0, "N", "O", ts0))
    li = spark.createDataFrame(
        li_rows,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [(ok, 1, "O", 5.0 + 2.0 * x1 + 3.0 * x2, ts0, "1-URGENT")
         for ok, (x1, x2) in specs.items()],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "regrm")
    li.write.parquet(d + "/lineitem.parquet")
    orders.write.parquet(d + "/orders.parquet")
    r = mining.agg_regr_multi(spark, d).collect()[0]
    assert r["n"] == 4
    assert r["b0"] == 5.0 and r["b1"] == 2.0 and r["b2"] == 3.0


def test_feature_vector_fixed_order(spark, tmp_path):
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [(1, _ts("2024-01-01T10:00:00"), 1, "click", 1.0, "{}"),
            (2, _ts("2024-01-02T10:00:00"), 1, "click", 1.0, "{}"),
            (3, _ts("2024-01-02T11:00:00"), 1, "view", 1.0, "{}"),
            (4, _ts("2024-01-02T12:00:00"), 1, "purchase", 9.99, "{}"),
            (5, _ts("2024-01-01T00:00:00"), 2, "view", 1.0, "{}")]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "feat")
    ev.write.parquet(d + "/events.parquet")
    out = {r["user_id"]: r for r in
           timeseries.events_feature_vector(spark, d).collect()}
    feat = lambda r: [r["f_clicks"], r["f_views"], r["f_purch"],
                      r["f_spend"], r["f_days_active"]]
    assert feat(out[1]) == [2.0, 1.0, 1.0, 9.99, 2.0]
    assert out[1]["label"] is True
    assert feat(out[2]) == [0.0, 1.0, 0.0, 0.0, 1.0]
    assert out[2]["label"] is False


def test_survival_km_hand_computed(spark, tmp_path):
    """Two conversions (1h, 2h) and two censored users (1h, 3h):
    r = [4, 2] at the event times, S = [0.75, 0.375] exactly."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1, "click", 1.0, "{}"),
        (2, _ts("2024-01-01T11:00:00"), 1, "purchase", 1.0, "{}"),
        (3, _ts("2024-01-01T10:00:00"), 2, "click", 1.0, "{}"),
        (4, _ts("2024-01-01T12:00:00"), 2, "purchase", 1.0, "{}"),
        (5, _ts("2024-01-01T10:00:00"), 3, "click", 1.0, "{}"),
        (6, _ts("2024-01-01T11:00:00"), 3, "click", 1.0, "{}"),
        (7, _ts("2024-01-01T10:00:00"), 4, "click", 1.0, "{}"),
        (8, _ts("2024-01-01T13:00:00"), 4, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "km")
    ev.write.parquet(d + "/events.parquet")
    out = sorted(mining.agg_survival_km(spark, d).collect(),
                 key=lambda r: r["t_hours"])
    assert [(r["t_hours"], r["d_events"], r["n_at_risk"], r["survival"])
            for r in out] == [(1, 1, 4, 0.75), (2, 1, 2, 0.375)]


def test_csv_corrupt_quarantine(spark, tmp_path):
    from big_data_management_and_analytics_spark.sources import scans

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 10 * i) for i in range(1, 6)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "csvc")
    docs.write.parquet(d + "/documents.parquet")
    r = scans.src_csv_corrupt(spark, d).collect()[0]
    assert r["n_good"] == 2 and r["n_bad"] == 3
    assert r["sum_id_good"] == 6 and r["sum_n_good"] == 60


def test_concurrency_half_open_touching_intervals(spark, tmp_path):
    """Two overlapping 5-min intervals peak at 2; a third interval
    starting exactly when the first ends must NOT raise the peak of its
    boundary (half-open: -1 and +1 at the same second cancel)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    base = _ts("2024-01-01T10:00:00")
    import datetime as dt
    rows = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=60), 2, "click", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=300), 3, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "conc")
    ev.write.parquet(d + "/events.parquet")
    out = {r["hour_x"]: r for r in
           timeseries.events_concurrency(spark, d).collect()}
    hour = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
    r = out[hour]
    # Boundaries: +1@0, +1@60, (-1+1)@300 -> net 0, -1@360, -1@600
    assert r["n_boundaries"] == 5
    assert r["max_concurrency"] == 2


def test_asof_tolerance_nullifies_stale_match(spark, tmp_path):
    """A purchase 2h after signup matches; one 30h after the same signup
    is outside the 24h tolerance and must get NULL, not the stale ts."""
    from big_data_management_and_analytics_spark.operators import joins

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "signup", 1.0, "{}"),
        (2, _ts("2024-01-01T02:00:00"), 1, "purchase", 1.0, "{}"),
        (3, _ts("2024-01-02T06:00:00"), 1, "purchase", 1.0, "{}"),
        (4, _ts("2024-01-01T05:00:00"), 2, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "asoftol")
    ev.write.parquet(d + "/events.parquet")
    out = {r["event_id"]: r for r in joins.join_asof_tolerance(spark, d).collect()}
    assert out[2]["within_tolerance"] is True
    assert out[2]["signup_ts"] == _ts("2024-01-01T00:00:00")
    assert out[3]["within_tolerance"] is False and out[3]["signup_ts"] is None
    assert out[4]["within_tolerance"] is False  # no signup at all


def test_drawdown_peak_to_trough(spark, tmp_path):
    """Balance path +10, +20, -25, +5 (cents 1000,2000,-2500,500):
    running bal 10,30,5,10 -> peak 30, max drawdown 25.00."""
    from big_data_management_and_analytics_spark.operators import windows

    vals = [("purchase", 10.0), ("purchase", 20.0), ("click", 25.0),
            ("purchase", 5.0)]
    rows = [(i + 1, _ts(f"2024-01-01T{i:02d}:00:00"), 1, t, v, "{}")
            for i, (t, v) in enumerate(vals)]
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "dd")
    ev.write.parquet(d + "/events.parquet")
    r = windows.win_drawdown(spark, d).collect()[0]
    assert r["peak_cents"] == 3000
    assert r["max_drawdown_cents"] == 2500
    assert r["max_drawdown"] == 25.0


def test_winsorized_mean_clamps_outliers(spark, tmp_path):
    """19 orders of 10.00 plus one 1000.00 whale: the 95th percentile
    clamps the whale, pulling the winsorized mean well under the raw."""
    from big_data_management_and_analytics_spark.operators import mining

    ts0 = _ts("2024-01-01T00:00:00")
    rows = [(k, 1, "O", 10.0, ts0, "1-URGENT") for k in range(1, 20)]
    rows.append((20, 1, "O", 1000.0, ts0, "1-URGENT"))
    orders = spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    d = str(tmp_path / "wins")
    orders.write.parquet(d + "/orders.parquet")
    r = mining.agg_winsorized_mean(spark, d).collect()[0]
    assert r["n"] == 20 and r["n_clipped"] == 1
    assert r["raw_mean"] == 59.5
    assert r["winsorized_mean"] < 15.0


def test_corrupt_file_skipped_exactly(spark, tmp_path):
    from big_data_management_and_analytics_spark.sources import scans

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(1, 8)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "cskip")
    docs.write.parquet(d + "/documents.parquet")
    r = scans.scan_corrupt_files_skip(spark, d).collect()[0]
    assert r["n_rows"] == 7 and r["sum_doc_id"] == 28


def _write_embeddings(spark, tmp_path, name, rows):
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / name)
    df.write.parquet(d + "/embeddings.parquet")
    return d


def test_auc_perfect_separation(spark, tmp_path):
    """Class-0 vectors on axis 1, all others on axis 2: centroid
    similarity ranks every positive above every negative -> AUC 1.0;
    a class-0 vector hiding on axis 2 costs exactly its pair share."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [(i, [1.0, 0.0], 0) for i in range(4)]
    rows += [(10 + i, [0.0, 1.0], 1) for i in range(6)]
    d = _write_embeddings(spark, tmp_path, "aucp", rows)
    r = mining.agg_auc_roc(spark, d).collect()[0]
    assert r["n_pos"] == 4 and r["n_neg"] == 6
    assert r["auc"] == 1.0


def test_auc_with_ties_half_credit(spark, tmp_path):
    """A positive tied with the negative gets half credit: centroid
    [2,1]/3 scores pos {2,2,1} vs neg {1}: wins 2, tie 1 of 3 pairs ->
    AUC = 2.5/3 = 0.833333."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 0),
            (4, [0.0, 1.0], 5)]
    d = _write_embeddings(spark, tmp_path, "auct", rows)
    r = mining.agg_auc_roc(spark, d).collect()[0]
    assert r["n_pos"] == 3 and r["n_neg"] == 1
    assert r["auc"] == 0.833333


def test_lift_chart_concentrates_positives(spark, tmp_path):
    """20 vectors, 4 positives all scoring top: deciles of 2 -> first
    two deciles convert at 100%, capture 0.5 then 1.0, lift 5.0."""
    from big_data_management_and_analytics_spark.operators import mining

    rows = [(i, [1.0, 0.0], 0) for i in range(4)]
    rows += [(10 + i, [0.0, 1.0], 2) for i in range(16)]
    d = _write_embeddings(spark, tmp_path, "lift", rows)
    out = {r["decile"]: r for r in mining.agg_lift_chart(spark, d).collect()}
    assert len(out) == 10 and all(out[k]["n"] == 2 for k in out)
    assert out[1]["conversion_rate"] == 1.0 and out[1]["lift"] == 5.0
    assert out[1]["cum_capture"] == 0.5 and out[2]["cum_capture"] == 1.0
    assert out[3]["conversion_rate"] == 0.0 and out[10]["cum_capture"] == 1.0


def test_span_corruption_brute_force(spark, tmp_path):
    """Re-derive mask positions and span count from the same md5 rule in
    plain Python; exact match per document."""
    import hashlib as _h

    from big_data_management_and_analytics_spark.functions import llm_text

    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(40)), "en", "s", 200),
         (8, "single", "en", "s", 6)],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "spanc")
    docs.write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in llm_text.llm_span_corruption(spark, d).collect()}
    for doc_id, n in ((7, 40), (8, 1)):
        m = [1 if int(_h.md5(f"{doc_id}:{i}".encode()).hexdigest()[:2], 16)
             % 100 < 15 else 0 for i in range(1, n + 1)]
        spans = sum(1 for i in range(n) if m[i] and (i == 0 or not m[i - 1]))
        r = out[doc_id]
        assert r["n_tokens"] == n and r["n_masked"] == sum(m)
        assert r["n_spans"] == spans


def test_psi_identical_distributions_is_zero(spark, tmp_path):
    """The same hourly histogram on even and odd days gives PSI 0."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for day in (1, 2):            # odd and even day, identical histograms
        for h, cnt in ((9, 3), (15, 2)):
            for _ in range(cnt):
                eid += 1
                rows.append((eid, _ts(f"2024-01-0{day}T{h:02d}:00:00"),
                             1, "click", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "psi0")
    ev.write.parquet(d + "/events.parquet")
    r = timeseries.dq_psi_drift(spark, d).collect()[0]
    assert r["n_bins"] == 24 and r["psi"] == 0.0


def test_psi_shifted_distribution_positive(spark, tmp_path):
    """Even days all at 09:00, odd days all at 15:00 -> large PSI."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for i in range(10):
        rows.append((i + 1, _ts("2024-01-02T09:00:00"), 1, "click", 1.0, "{}"))
        rows.append((100 + i, _ts("2024-01-01T15:00:00"), 1, "click", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "psi1")
    ev.write.parquet(d + "/events.parquet")
    r = timeseries.dq_psi_drift(spark, d).collect()[0]
    assert r["psi"] > 1.0


def test_ngram_novelty_planted(spark, tmp_path):
    """First-occurrence attribution: an exact copy has zero novelty, a
    one-token variant exactly half, and a <5-token doc reports NULL."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f", "en", "s", 11),   # grams: abcde, bcdef
            (2, "a b c d e f", "en", "s", 11),   # exact copy -> novelty 0
            (3, "a b c d e x", "en", "s", 11),   # abcde seen, bcdex new
            (4, "too short", "en", "s", 9),      # <5 tokens -> no grams
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "nov")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in llm_corpus.llm_ngram_novelty(spark, d).collect()
    }
    assert (rows[1]["n_grams"], rows[1]["n_novel"]) == (2, 2)
    assert rows[1]["novelty_ratio"] == 1.0
    assert (rows[2]["n_grams"], rows[2]["n_novel"]) == (2, 0)
    assert rows[3]["novelty_ratio"] == 0.5
    assert rows[4]["n_grams"] == 0 and rows[4]["novelty_ratio"] is None


def test_vocab_growth_planted_deciles(spark, tmp_path):
    """Tokens land in the decile of their FIRST doc; cumulative sums add
    across deciles (multi-decile case the tiny-vocab fixture never hits)."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = spark.createDataFrame(
        [
            (0, "w0", "en", "s", 2),
            (5, "w0 w5", "en", "s", 5),   # w0 already seen at doc 0
            (9, "w9 w5", "en", "s", 5),   # w5 already seen at doc 5
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "vg")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = {
        r["decile"]: r for r in llm_corpus.llm_vocab_growth(spark, d).collect()
    }
    assert set(rows) == {0, 5, 9}
    assert [rows[k]["n_new_tokens"] for k in (0, 5, 9)] == [1, 1, 1]
    assert [rows[k]["cum_vocab"] for k in (0, 5, 9)] == [1, 2, 3]


def test_sample_topk_hash_exact_k_and_stable(spark):
    """The sample is exactly k rows and identical across repeated runs
    (hash order has no partition/session dependence)."""
    from big_data_management_and_analytics_spark.functions import llm_corpus
    from tests.conftest import SF_T2

    sf = SF_T2
    a = llm_corpus.llm_sample_topk_hash(spark, sf).collect()
    b = llm_corpus.llm_sample_topk_hash(spark, sf).collect()
    assert len(a) == 100
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_audio_vad_segments_planted(spark, tmp_path):
    """Known byte content -> known segment structure: 'z' pairs (v=31354,
    mean square 9.8e8) are active, space pairs (v=8224, 6.8e7) are not;
    active-inactive-active-active frames merge into 2 segments with a
    longest run of 2."""
    from big_data_management_and_analytics_spark.functions import multimodal

    text = "z" * 64 + " " * 64 + "z" * 128  # 128 samples = 4 frames of 32
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "vad")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    r = multimodal.mm_audio_vad(spark, d).collect()[0]
    assert r["total_frames"] == 4
    assert r["active_frames"] == 3
    assert r["n_segments"] == 2
    assert r["max_segment_frames"] == 2


def test_yoy_growth_planted(spark, tmp_path):
    """Prior-year value joins on (nation, year-1, month) — a 50% growth
    case and a no-prior-year NULL case, immune to missing months."""
    import datetime

    from big_data_management_and_analytics_spark.operators import timeseries

    d = str(tmp_path / "yoy")
    spark.createDataFrame(
        [(1, "ALPHA", 0)],
        schema="n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(d + "/nation.parquet")
    spark.createDataFrame(
        [(10, "c", 1, 0.0, "m")],
        schema=(
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string"
        ),
    ).write.parquet(d + "/customer.parquet")
    spark.createDataFrame(
        [
            (100, 10, "O", 100.0, datetime.datetime(1994, 3, 5), "p"),
            (101, 10, "O", 150.0, datetime.datetime(1995, 3, 9), "p"),
            (102, 10, "O", 80.0, datetime.datetime(1995, 7, 1), "p"),
        ],
        schema=(
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
        ),
    ).write.parquet(d + "/orders.parquet")
    rows = {
        (r["o_year"], r["o_month"]): r
        for r in timeseries.ts_yoy_growth(spark, d).collect()
    }
    assert rows[(1995, 3)]["yoy_pct"] == 50.0
    assert rows[(1995, 3)]["prev_cents"] == 10000
    assert rows[(1994, 3)]["yoy_pct"] is None
    assert rows[(1995, 7)]["yoy_pct"] is None


def test_asof_multi_inclusive_ties_and_independence(spark, tmp_path):
    """Each feature carries independently: a purchase sees the latest
    earlier-or-equal signup AND click, ties are inclusive, and a missing
    feature stays NULL without disturbing the other."""
    import datetime as dt

    from big_data_management_and_analytics_spark.operators import joins

    T = lambda s: dt.datetime.fromisoformat(s)
    ev = spark.createDataFrame(
        [
            (1, T("2024-01-01T09:00:00"), 7, "signup", 0.0, "{}"),
            (2, T("2024-01-01T09:30:00"), 7, "click", 0.0, "{}"),
            (3, T("2024-01-01T10:00:00"), 7, "click", 0.0, "{}"),  # tie
            (4, T("2024-01-01T10:00:00"), 7, "purchase", 1.0, "{}"),
            (5, T("2024-01-01T11:00:00"), 8, "purchase", 1.0, "{}"),  # alone
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string,"
               " value double, props string",
    )
    d = str(tmp_path / "asofm")
    ev.write.mode("overwrite").parquet(d + "/events.parquet")
    rows = {r["event_id"]: r for r in joins.join_asof_multi(spark, d).collect()}
    assert rows[4]["last_signup_ts"] == T("2024-01-01T09:00:00")
    assert rows[4]["last_click_ts"] == T("2024-01-01T10:00:00")  # inclusive tie
    assert rows[5]["last_signup_ts"] is None
    assert rows[5]["last_click_ts"] is None


def test_modularity_hand_graph(spark, tmp_path):
    """2 nations, hand-checkable Q terms: nation A holds the only intra
    edge; contributions follow e_c/m - (d_c/2m)^2 exactly."""
    from big_data_management_and_analytics_spark.operators import graph

    d = str(tmp_path / "mod")
    spark.createDataFrame(
        [(0, "NA", 0), (1, "NB", 0)],
        schema="n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(d + "/nation.parquet")
    spark.createDataFrame(
        [(10, "c", 0, 0.0, "m"), (11, "c", 1, 0.0, "m")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(d + "/customer.parquet")
    spark.createDataFrame(
        [(20, "s", 0, 0.0), (21, "s", 1, 0.0)],
        schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(d + "/supplier.parquet")
    # orders/lineitem: edges (c10,s20) intra-A, (c10,s21) cross, (c11,s21) intra-B... keep
    # it to m=3: c10-s20 (A-A), c10-s21 (A-B), c11-s20 (B-A).
    import datetime as _dt

    _od = _dt.datetime(1995, 1, 1)
    spark.createDataFrame(
        [(100, 10, "O", 1.0, _od, "p"), (101, 11, "O", 1.0, _od, "p")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp,"
               " o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")
    li_schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    )
    import datetime as dt
    sd = dt.datetime(1995, 1, 1)
    spark.createDataFrame(
        [
            (100, 1, 20, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", sd),
            (100, 1, 21, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", sd),
            (101, 1, 20, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", sd),
        ],
        schema=li_schema,
    ).write.parquet(d + "/lineitem.parquet")
    rows = {r["community"]: r for r in graph.graph_modularity(spark, d).collect()}
    # m=3; NA: intra=1 (c10-s20), degree endpoints: c10 has 2, s20 has 2 -> 4
    assert rows["NA"]["intra_edges"] == 1 and rows["NA"]["degree_sum"] == 4
    assert rows["NA"]["n_nodes"] == 2
    assert rows["NA"]["contribution"] == round(1 / 3 - (4 / 6) ** 2, 6)
    # NB: intra=0; c11 degree 1, s21 degree 1 -> 2
    assert rows["NB"]["intra_edges"] == 0 and rows["NB"]["degree_sum"] == 2
    assert rows["NB"]["contribution"] == round(0 / 3 - (2 / 6) ** 2, 6)


def test_join_skew_planted_hot_key(spark, tmp_path):
    """A planted 8x-hot key is counted at every heavy tier and drives the
    ceil salt factor (integer cross-product decisions, no float mean)."""
    import datetime as dt

    from big_data_management_and_analytics_spark.operators import aggregations

    rows = []
    eid = 0
    # 9 keys with 1 row each, key 99 with 91 rows -> n_rows=100, n_keys=10
    for u in range(9):
        rows.append((eid, dt.datetime(2024, 1, 1), u, "click", 0.0, "{}")); eid += 1
    for _ in range(91):
        rows.append((eid, dt.datetime(2024, 1, 1), 99, "click", 0.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string,"
               " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "skew") + "/events.parquet")
    r = aggregations.dq_join_skew(spark, str(tmp_path / "skew")).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_freq"]) == (100, 10, 91)
    assert r["top1_share"] == 0.91
    # f*n_keys > k*n_rows: 91*10=910 > 200/400/800 -> only the hot key
    assert (r["heavy_2x"], r["heavy_4x"], r["heavy_8x"]) == (1, 1, 1)
    assert r["salt_factor"] == 10  # ceil(91*10/100)


def test_winnow_local_match_guarantee(spark, tmp_path):
    """Winnowing's defining property: any shared run of w+k-1 = 7 tokens
    forces a shared fingerprint (docs group together), while docs with
    no such run stay apart."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    shared = "one two three four five six seven"  # 7-token shared run
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta", "en", "s", 1),
            (2, "zeta " + shared, "en", "s", 1),          # same 7-run inside
            (3, "wholly unrelated words appear in this doc", "en", "s", 1),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "win")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    g = {
        r["doc_id"]: r
        for r in llm_corpus.llm_fingerprint_winnow(spark, d).collect()
    }
    assert g[2]["group_rep"] == 1          # guaranteed shared fingerprint
    assert g[2]["is_candidate_dup"]
    assert g[3]["group_rep"] == 3          # disjoint vocabulary stays apart
    assert not g[3]["is_candidate_dup"]


def test_domain_cap_boundary(spark, tmp_path):
    """A 101-doc source keeps exactly 100 (hash-ranked); a small source
    keeps everything; ranks are 1..n_kept without gaps."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(i, f"doc {i}", "en", "big", 5) for i in range(101)]
    rows += [(200, "x", "en", "small", 1), (201, "y", "en", "small", 1)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "cap") + "/documents.parquet")
    out = llm_corpus.llm_domain_cap(spark, str(tmp_path / "cap")).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["sample_rank"])
    assert len(by_src["big"]) == 100
    assert sorted(by_src["big"]) == list(range(1, 101))
    assert sorted(by_src["small"]) == [1, 2]


def test_standard_scale_known_z(spark, tmp_path):
    """Hand-computable z-scores: {100,200,300} → {-1,0,1}; a 2-row group
    gives ±0.707107 (sample stddev, round 6)."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [
        (1, 10, "O", 100.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 10, "O", 200.0, _ts("2024-01-02T00:00:00"), "1-URGENT"),
        (3, 10, "O", 300.0, _ts("2024-01-03T00:00:00"), "1-URGENT"),
        (4, 10, "O", 10.0, _ts("2024-01-04T00:00:00"), "5-LOW"),
        (5, 10, "O", 20.0, _ts("2024-01-05T00:00:00"), "5-LOW"),
    ]
    spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "ss") + "/orders.parquet")
    out = {r["o_orderkey"]: r["z_score"]
           for r in ml_features.feat_standard_scale(spark, str(tmp_path / "ss")).collect()}
    assert (out[1], out[2], out[3]) == (-1.0, 0.0, 1.0)
    assert (out[4], out[5]) == (-0.707107, 0.707107)


def test_minmax_scale_bounds_and_midpoint(spark, tmp_path):
    """Min→0, max→1, midpoint→0.5 within the group."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [
        (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "A", "F", _ts("2024-01-01T00:00:00")),
        (1, 1, 1, 2, 1.0, 200.0, 0.0, 0.0, "A", "F", _ts("2024-01-01T00:00:00")),
        (1, 1, 1, 3, 1.0, 300.0, 0.0, 0.0, "A", "F", _ts("2024-01-01T00:00:00")),
    ]
    spark.createDataFrame(
        rows,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "mm") + "/lineitem.parquet")
    out = {r["l_linenumber"]: r["mm_scaled"]
           for r in ml_features.feat_minmax_scale(spark, str(tmp_path / "mm")).collect()}
    assert (out[1], out[2], out[3]) == (0.0, 0.5, 1.0)


def test_target_encode_shrinks_toward_prior(spark, tmp_path):
    """m=10 smoothing: SEG_A (2×100) → (200+10·200)/12 = 183.333333;
    SEG_B (1×400) → (400+10·200)/11 = 218.181818 — both pulled toward
    the global mean 200, the rare category pulled harder."""
    from big_data_management_and_analytics_spark.operators import ml_features

    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "SEG_A"), (2, "c2", 0, 0.0, "SEG_A"),
         (3, "c3", 0, 0.0, "SEG_B")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "te") + "/customer.parquet")
    spark.createDataFrame(
        [(1, 1, "O", 100.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (2, 2, "O", 100.0, _ts("2024-01-02T00:00:00"), "1-URGENT"),
         (3, 3, "O", 400.0, _ts("2024-01-03T00:00:00"), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "te") + "/orders.parquet")
    out = {r["c_mktsegment"]: r
           for r in ml_features.feat_target_encode(spark, str(tmp_path / "te")).collect()}
    assert out["SEG_A"]["n_orders"] == 2
    assert out["SEG_A"]["encoding"] == 183.333333
    assert out["SEG_B"]["encoding"] == 218.181818


def test_onehot_indicators_and_unknown_category(spark, tmp_path):
    """Exactly one indicator fires per known priority; an out-of-domain
    string gets index 0 and an all-zero vector."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [
        (1, 10, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 10, "O", 1.0, _ts("2024-01-02T00:00:00"), "5-LOW"),
        (3, 10, "O", 1.0, _ts("2024-01-03T00:00:00"), "9-BOGUS"),
    ]
    spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "oh") + "/orders.parquet")
    out = {r["o_orderkey"]: r
           for r in ml_features.feat_onehot(spark, str(tmp_path / "oh")).collect()}
    ind = ["pri_urgent", "pri_high", "pri_medium", "pri_notspec", "pri_low"]
    assert out[1]["pri_idx"] == 1 and [out[1][c] for c in ind] == [1, 0, 0, 0, 0]
    assert out[2]["pri_idx"] == 5 and [out[2][c] for c in ind] == [0, 0, 0, 0, 1]
    assert out[3]["pri_idx"] == 0 and [out[3][c] for c in ind] == [0, 0, 0, 0, 0]


def test_hashing_trick_matches_reference_hash_and_cancels(spark, tmp_path):
    """Bucket/sign reproduce the portable md5 family bit-for-bit, and a
    repeated token accumulates ±2 in its single bucket."""
    import hashlib as _hl

    from big_data_management_and_analytics_spark.operators import ml_features

    spark.createDataFrame(
        [(1, "n", "b", "alpha alpha", 1, 1.0), (2, "n", "b", "beta", 1, 1.0)],
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.parquet(str(tmp_path / "ht") + "/part.parquet")
    out = {(r["p_partkey"], r["bucket"]): r["feat_val"]
           for r in ml_features.feat_hashing_trick(spark, str(tmp_path / "ht")).collect()}

    def ref(tok):
        hx = _hl.md5(tok.encode()).hexdigest()
        return int(hx[0:15], 16) % 64, (1 if int(hx[16:31], 16) % 2 == 0 else -1)

    b_a, s_a = ref("alpha")
    b_b, s_b = ref("beta")
    assert out[(1, b_a)] == 2 * s_a   # repeated token stacks its sign
    assert out[(2, b_b)] == s_b
    assert len(out) == 2


def test_quantile_bin_ntile_remainder_rule(spark, tmp_path):
    """n=12, k=10 → the first two deciles hold 2 rows, the rest 1
    (SQL NTILE remainder-first rule), in balance order."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [(i, f"c{i}", 0, float(i), "S") for i in range(1, 13)]
    spark.createDataFrame(
        rows,
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "qb") + "/customer.parquet")
    out = sorted(
        (r["acctbal_cents"], r["decile"])
        for r in ml_features.feat_quantile_bin(spark, str(tmp_path / "qb")).collect()
    )
    assert [d for _, d in out] == [1, 1, 2, 2, 3, 4, 5, 6, 7, 8, 9, 10]


def test_bootstrap_ci_constant_data_collapses(spark, tmp_path):
    """On constant data every replica mean is exactly the constant, so
    the CI collapses to a point and all 32 replicas materialize."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [(i, 10, "O", 100.0, _ts("2024-01-01T00:00:00"), "1-URGENT")
            for i in range(1, 41)]
    spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "bs") + "/orders.parquet")
    r = ml_features.agg_bootstrap_ci(spark, str(tmp_path / "bs")).collect()[0]
    assert r["n_replicas"] == 32
    assert r["ci_lo"] == r["ci_med"] == r["ci_hi"] == 100.0


def test_nb_langid_separable_vocab(spark, tmp_path):
    """Disjoint train vocabularies classify held-out docs by their tokens;
    a test doc with only out-of-vocab tokens is absent from the output."""
    from big_data_management_and_analytics_spark.operators import ml_features

    rows = [
        (1, "aa aa", "en", "s", 5), (2, "aa", "en", "s", 2),
        (3, "bb bb", "fr", "s", 5), (4, "bb", "fr", "s", 2),
        (5, "aa aa aa", "en", "s", 8),    # held out, english tokens
        (10, "bb", "en", "s", 2),          # held out, french-looking text
        (15, "zz zz", "en", "s", 5),       # held out, unknown vocab
    ]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "nb") + "/documents.parquet")
    out = {r["doc_id"]: r
           for r in ml_features.llm_nb_langid(spark, str(tmp_path / "nb")).collect()}
    assert out[5]["pred_lang"] == "en" and out[5]["correct"]
    assert out[10]["pred_lang"] == "fr" and not out[10]["correct"]
    assert 15 not in out  # no known token -> no score row
    assert set(out) == {5, 10}


def test_clustering_coeff_triangle_plus_pendant(spark, tmp_path):
    """K3 plus a pendant edge: triangle corners get cc 1, 1, 1/3; the
    degree-1 pendant is pinned to 0.0."""
    from big_data_management_and_analytics_spark.operators import graph

    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (1, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (1, 1, 3, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (2, 1, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (2, 1, 4, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
    ]
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "cc") + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, 10, "O", 500000.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (2, 10, "O", 500000.0, _ts("2024-01-02T00:00:00"), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "cc") + "/orders.parquet")
    out = {r["supplier"]: r
           for r in graph.graph_clustering_coeff(spark, str(tmp_path / "cc")).collect()}
    assert out[1]["local_cc"] == 1.0 and out[1]["n_triangles"] == 1
    assert out[2]["local_cc"] == 1.0
    assert out[3]["degree"] == 3 and out[3]["local_cc"] == 0.333333
    assert out[4]["degree"] == 1 and out[4]["local_cc"] == 0.0


def test_sax_two_level_series_and_min_length(spark, tmp_path):
    """4 low days + 4 high days → word 'ad' (z = ∓0.935414 per segment);
    a 7-day user is below the n≥8 cut and absent."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for day in range(1, 9):
        eid += 1
        v = 1.0 if day <= 4 else 3.0
        rows.append((eid, _ts(f"2024-01-{day:02d}T10:00:00"), 1, "x", v, "{}"))
    for day in range(1, 8):  # 7 days only
        eid += 1
        rows.append((eid, _ts(f"2024-01-{day:02d}T10:00:00"), 2, "x", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "sax") + "/events.parquet")
    out = {r["user_id"]: r
           for r in timeseries.ts_sax(spark, str(tmp_path / "sax")).collect()}
    assert out[1]["sax_word"] == "ad" and out[1]["n_segments"] == 2
    assert 2 not in out


def test_rsi_monotonic_and_alternating(spark, tmp_path):
    """A monotonic-up series pins RSI to 100 (zero losses); a ±1
    alternating series balances to exactly 50."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    eid = 0
    for day in range(1, 17):
        eid += 1
        rows.append((eid, _ts(f"2024-01-{day:02d}T10:00:00"), 1, "up",
                     float(day), "{}"))
    base = [2.0, 3.0]  # alternating +1 / -1 deltas
    for day in range(1, 17):
        eid += 1
        rows.append((eid, _ts(f"2024-01-{day:02d}T10:00:00"), 1, "alt",
                     base[day % 2], "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "rsi") + "/events.parquet")
    out = sorted(
        (r["event_type"], r["day"], r["rsi14"])
        for r in timeseries.ts_rsi(spark, str(tmp_path / "rsi")).collect()
    )
    ups = [r for r in out if r[0] == "up"]
    alts = [r for r in out if r[0] == "alt"]
    assert len(ups) == 2 and all(r[2] == 100.0 for r in ups)
    assert len(alts) == 2 and all(r[2] == 50.0 for r in alts)


def test_word_pmi_known_counts(spark, tmp_path):
    """Corpus {3×'a b', 2×'c d'}: only (a,b) clears the c≥3 support
    floor; pmi = ln(3·10²/(5·3·3)) = ln(20/3) = 1.89712."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(i, "a b", "en", "s", 3) for i in range(1, 4)]
    rows += [(i, "c d", "en", "s", 3) for i in range(4, 6)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "pmi") + "/documents.parquet")
    out = llm_corpus.llm_word_pmi(spark, str(tmp_path / "pmi")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["x"], r["y"], r["c_xy"]) == ("a", "b", 3)
    assert r["pmi"] == 1.89712


def test_curriculum_order_by_mean_word_length(spark, tmp_path):
    """Docs with mean token lengths 1..4 chars rank easy→hard into
    phases 1..4 (n=4, k=4 → one doc per phase)."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(1, "a a", "en", "s", 3), (2, "bb bb", "en", "s", 5),
            (3, "ccc", "en", "s", 3), (4, "dddd", "en", "s", 4)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "cur") + "/documents.parquet")
    out = {r["doc_id"]: r
           for r in llm_corpus.llm_curriculum_order(spark, str(tmp_path / "cur")).collect()}
    assert [out[i]["mwl_milli"] for i in (1, 2, 3, 4)] == [1000, 2000, 3000, 4000]
    assert [out[i]["curriculum_rank"] for i in (1, 2, 3, 4)] == [1, 2, 3, 4]
    assert [out[i]["phase"] for i in (1, 2, 3, 4)] == [1, 2, 3, 4]


def test_mmr_prefers_diverse_second_pick(spark, tmp_path):
    """Two near-duplicate top candidates + one equally-relevant diverse
    candidate: plain cosine ranking would take the duplicate second;
    MMR (λ=0.7) must take the diverse vector, then the duplicate."""
    from big_data_management_and_analytics_spark.functions import llm_sim

    vecs = [
        (0, [1.0, 0.0], 0),          # query (vec_id % 100 == 0)
        (1, [0.97, 0.2431], 0),      # s1: top relevance (id tiebreak)
        (2, [0.97, 0.2432], 0),      # near-duplicate of 1
        (3, [0.97, -0.2431], 0),     # same relevance, diverse direction
    ]
    spark.createDataFrame(
        vecs, schema="vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "mmr") + "/embeddings.parquet")
    out = {r["sel_rank"]: r["vec_id"]
           for r in llm_sim.llm_mmr_rerank(spark, str(tmp_path / "mmr")).collect()}
    assert out == {1: 1, 2: 3, 3: 2}


def test_window_clause_shared_spec(spark, tmp_path):
    """One named window feeds seq / running sum / lag delta: 3 orders →
    seq 1..3, cumulative cents, first delta NULL."""
    from big_data_management_and_analytics_spark.sources import scans

    rows = [
        (1, 7, "O", 10.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
        (2, 7, "O", 25.5, _ts("2024-01-02T00:00:00"), "1-URGENT"),
        (3, 7, "O", 5.25, _ts("2024-01-03T00:00:00"), "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "wc") + "/orders.parquet")
    out = {r["o_orderkey"]: r
           for r in scans.sql_window_clause(spark, str(tmp_path / "wc")).collect()}
    assert [out[i]["order_seq"] for i in (1, 2, 3)] == [1, 2, 3]
    assert [out[i]["running_cents"] for i in (1, 2, 3)] == [1000, 3550, 4075]
    assert out[1]["delta_cents"] is None
    assert (out[2]["delta_cents"], out[3]["delta_cents"]) == (1550, -2025)


def test_geo_haversine_matches_reference_formula(spark, tmp_path):
    """Distance reproduces the closed-form haversine over the same
    md5-derived micro-degree coordinates, and pairs never cross
    nations."""
    import hashlib as _hl
    import math

    from big_data_management_and_analytics_spark.operators import joins

    spark.createDataFrame(
        [(1, "c1", 3, 0.0, "S"), (2, "c2", 4, 0.0, "S")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "geo") + "/customer.parquet")
    spark.createDataFrame(
        [(11, "s1", 3, 0.0), (12, "s2", 4, 0.0)],
        schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(str(tmp_path / "geo") + "/supplier.parquet")
    out = {(r["c_custkey"], r["s_suppkey"]): r
           for r in joins.join_geo_haversine(spark, str(tmp_path / "geo")).collect()}
    assert set(out) == {(1, 11), (2, 12)}  # nation-bounded pairs only

    def coord(prefix, key):
        hx = _hl.md5(f"{prefix}{key}".encode()).hexdigest()
        lat = int(hx[0:15], 16) % 160000001 - 80000000
        lon = int(hx[16:31], 16) % 360000001 - 180000000
        return lat / 1e6, lon / 1e6

    lat1, lon1 = coord("geo:c:", 1)
    lat2, lon2 = coord("geo:s:", 11)
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1) / 2
    dl = math.radians(lon2 - lon1) / 2
    a = math.sin(dp) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
    want = round(12742.0 * math.asin(math.sqrt(a)), 6)
    assert abs(out[(1, 11)]["dist_km"] - want) < 1e-6


def test_oov_rate_half_unknown(spark, tmp_path):
    """Held-out 'a zz' against train vocab {a,b}: 2 test tokens, 1 OOV,
    rate 0.5 — per-language vocabulary, not global."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(1, "a b", "en", "s", 3), (2, "b a", "en", "s", 3),
            (5, "a zz", "en", "s", 4)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "oov") + "/documents.parquet")
    out = llm_corpus.llm_oov_rate(spark, str(tmp_path / "oov")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_test_tokens"], r["n_oov"], r["oov_rate"]) == (2, 1, 0.5)


def test_periodogram_detects_weekly_cycle(spark, tmp_path):
    """A 7-day-periodic impulse train over 14 days puts rank-1 power at
    period 7 (the p=14 bin is orthogonal to a 2/14-frequency signal)."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for day in range(1, 15):
        v = 10.0 if day % 7 == 0 else 1.0
        rows.append((day, _ts(f"2024-01-{day:02d}T10:00:00"), 1, "w", v, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "per") + "/events.parquet")
    out = {r["period"]: r
           for r in timeseries.ts_periodogram(spark, str(tmp_path / "per")).collect()}
    assert set(out) == {7, 14, 30}
    assert all(r["n_days"] == 14 for r in out.values())
    assert out[7]["power_rank"] == 1
    assert out[7]["amplitude"] > out[14]["amplitude"]


def test_item_similarity_cosine_and_support_floor(spark, tmp_path):
    """{p1,p2}×2 orders + {p1,p3}×1: only (p1,p2) clears c≥2; cosine =
    2/√(3·2) = 0.816497, symmetric rows, rank 1 both directions."""
    from big_data_management_and_analytics_spark.operators import mining

    li = []
    for ok, parts in [(1, [1, 2]), (2, [1, 2]), (3, [1, 3])]:
        for n, p in enumerate(parts, start=1):
            li.append((ok, p, 1, n, 1.0, 1.0, 0.0, 0.0, "N", "O",
                       _ts("2024-01-01T00:00:00")))
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "cf") + "/lineitem.parquet")
    out = {(r["item"], r["neighbor"]): r
           for r in mining.mkt_item_similarity(spark, str(tmp_path / "cf")).collect()}
    assert set(out) == {(1, 2), (2, 1)}
    assert out[(1, 2)]["n_coorders"] == 2
    assert out[(1, 2)]["cos_sim"] == 0.816497
    assert out[(1, 2)]["sim_rank"] == 1 and out[(2, 1)]["sim_rank"] == 1


def test_bot_score_regular_vs_bursty(spark, tmp_path):
    """A timer bot (6 events, exactly 10s apart, one minute) trips both
    rules (peak≥5, CV=0); an irregular human does not; a single-event
    user has NULL CV and is clean."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for i in range(6):  # user 1: 10s metronome inside one minute
        rows.append((i + 1, _ts(f"2024-01-01T10:00:{i*10:02d}"), 1, "x", 1.0, "{}"))
    human = ["2024-01-01T09:00:00", "2024-01-01T09:00:10",
             "2024-01-01T09:05:10", "2024-01-01T10:05:10"]
    for i, t in enumerate(human):  # user 2: bursty gaps (10s, 5m, 1h)
        rows.append((10 + i, _ts(t), 2, "x", 1.0, "{}"))
    rows.append((20, _ts("2024-01-01T08:00:00"), 3, "x", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "bot") + "/events.parquet")
    out = {r["user_id"]: r
           for r in timeseries.events_bot_score(spark, str(tmp_path / "bot")).collect()}
    assert out[1]["peak_per_minute"] == 6 and out[1]["gap_cv"] == 0.0
    assert out[1]["is_bot"]
    assert not out[2]["is_bot"] and out[2]["gap_cv"] > 0.1
    assert out[3]["gap_cv"] is None and not out[3]["is_bot"]


def test_markov_stationary_two_cycle_and_absorbing_drop(spark, tmp_path):
    """A↔B alternation fixes π = (0.5, 0.5) at every iteration; a
    sink state with no outgoing edges is excluded from the chain."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    seqs = {1: ["A", "B", "A", "B", "A"], 2: ["A", "C"]}
    eid = 0
    for uid, states in seqs.items():
        for i, st in enumerate(states):
            eid += 1
            rows.append((eid, _ts(f"2024-01-01T10:{i:02d}:00"), uid, st, 1.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "mkv") + "/events.parquet")
    out = {r["state"]: r
           for r in timeseries.events_markov_stationary(spark, str(tmp_path / "mkv")).collect()}
    assert set(out) == {"A", "B"}  # C has no outgoing edge -> dropped
    assert all(r["n_states"] == 2 for r in out.values())
    assert out["A"]["pi"] == 0.5 and out["B"]["pi"] == 0.5


def test_pq_seed_identity_and_duplicate_code(spark, tmp_path):
    """With ≤16 vectors every vector seeds its own codebook entry →
    zero reconstruction error; an exact duplicate of vector 0 encodes
    to the identical 8-subspace code."""
    import numpy as np

    from big_data_management_and_analytics_spark.functions import llm_sim

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(64).round(3)], 0)
            for i in range(16)]
    vecs.append((16, vecs[0][1], 0))  # exact duplicate of vec 0
    spark.createDataFrame(
        vecs, schema="vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "pq") + "/embeddings.parquet")
    out = {r["vec_id"]: r
           for r in llm_sim.llm_embed_pq(spark, str(tmp_path / "pq")).collect()}
    assert len(out) == 17
    assert all(r["recon_err"] == 0.0 for r in out.values())
    assert out[16]["pq_code"] == out[0]["pq_code"]
    assert len(out[0]["pq_code"].split("-")) == 8


def test_bigram_kn_discount_and_normalization(spark, tmp_path):
    """Corpus {2×'a b', 'a c'}: p(b|a) = 1.25/3 + (0.75·2/3)·(1/2) =
    0.666667, p(c|a) = 0.333333 — discounted mass is redistributed via
    the continuation term and the context distribution sums to 1."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(1, "a b", "en", "s", 3), (2, "a b", "en", "s", 3),
            (3, "a c", "en", "s", 3)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "kn") + "/documents.parquet")
    out = {(r["v"], r["w"]): r
           for r in llm_corpus.llm_bigram_kn(spark, str(tmp_path / "kn")).collect()}
    assert set(out) == {("a", "b"), ("a", "c")}
    assert out[("a", "b")]["c_vw"] == 2 and out[("a", "b")]["c_v"] == 3
    assert out[("a", "b")]["p_kn"] == 0.666667
    assert out[("a", "c")]["p_kn"] == 0.333333
    assert abs(sum(r["p_kn"] for r in out.values()) - 1.0) < 1e-5


def test_croston_hand_trace(spark, tmp_path):
    """Demands 100c@t0 and 200c@t2: z = 0.1·200+0.9·100 = 110,
    p = 0.1·2+0.9·1 = 1.1, forecast = 100 exactly."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = [(1, _ts("2024-01-01T10:00:00"), 1, "x", 1.0, "{}"),
            (2, _ts("2024-01-03T10:00:00"), 1, "x", 2.0, "{}")]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "cro") + "/events.parquet")
    out = timeseries.ts_croston(spark, str(tmp_path / "cro")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_demand_days"] == 2
    assert r["level_cents"] == 110.0
    assert r["mean_interval"] == 1.1
    assert r["croston_forecast"] == 100.0


def test_rake_phrase_segmentation(spark, tmp_path):
    """'big data the fast query' splits on the stopword into two
    2-word phrases scoring 4.0 each (deg/freq = 2 per word); rank
    breaks ties by position. An all-stopword doc emits nothing."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(1, "big data the fast query", "en", "s", 23),
            (2, "a the a", "en", "s", 7)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "rake") + "/documents.parquet")
    out = [(r["doc_id"], r["rake_rank"], r["phrase"], r["rake_score"])
           for r in llm_corpus.llm_keyword_rake(spark, str(tmp_path / "rake")).collect()]
    assert sorted(out) == [(1, 1, "big data", 4.0), (1, 2, "fast query", 4.0)]


def test_hits_bipartite_star(spark, tmp_path):
    """Supplier 1 serves both customers, supplier 2 serves one: the
    shared supplier is the top authority; both customers are equal
    hubs... (scores L1-normalize to 1 per role)."""
    from big_data_management_and_analytics_spark.operators import graph

    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
        (2, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts("2024-01-01T00:00:00")),
    ]
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "hits") + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, 100, "O", 1.0, _ts("2024-01-01T00:00:00"), "1-URGENT"),
         (2, 200, "O", 1.0, _ts("2024-01-02T00:00:00"), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "hits") + "/orders.parquet")
    out = {(r["role"], r["node_id"]): r
           for r in graph.graph_hits(spark, str(tmp_path / "hits")).collect()}
    auth = {k[1]: v for k, v in out.items() if k[0] == "authority"}
    hub = {k[1]: v for k, v in out.items() if k[0] == "hub"}
    assert auth[1]["rnk"] == 1 and auth[1]["score"] > auth[2]["score"]
    assert abs(sum(r["score"] for r in auth.values()) - 1.0) < 1e-5
    assert hub[200]["score"] > hub[100]["score"]  # cust 200 touches both


def test_haar_energy_two_level_step(spark, tmp_path):
    """[1×4, 3×4] dollars: flat pairs → e1 = e2 = 0; all structure sits
    in the level-3 detail (400−1200)² = 640000 cents²."""
    from big_data_management_and_analytics_spark.operators import timeseries

    rows = []
    for day in range(1, 9):
        v = 1.0 if day <= 4 else 3.0
        rows.append((day, _ts(f"2024-01-{day:02d}T10:00:00"), 1, "h", v, "{}"))
    rows.append((99, _ts("2024-01-01T10:00:00"), 1, "short", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "haar") + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.ts_haar_energy(spark, str(tmp_path / "haar")).collect()}
    assert set(out) == {"h"}  # 1-day series below the 8-day floor
    r = out["h"]
    assert (r["e1"], r["e2"], r["e3"]) == (0, 0, 640000)
    assert r["approx_sum"] == 1600


def test_bm25_ranks_full_match_first(spark, tmp_path):
    """For query 'spark join', the doc containing both terms outranks
    the single-term doc; a doc with neither term never scores."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    rows = [(1, "spark join filter", "en", "s", 17),
            (2, "spark scan scan scan", "en", "s", 20),
            (3, "window agg sort", "en", "s", 15)]
    spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "bm") + "/documents.parquet")
    out = [(r["query_id"], r["rank"], r["doc_id"])
           for r in llm_corpus.llm_bm25_search(spark, str(tmp_path / "bm")).collect()
           if r["query_id"] == "q1"]
    assert sorted(out) == [("q1", 1, 1), ("q1", 2, 2)]  # doc 3 absent


def test_order_by_all_region_rollup(spark, tmp_path):
    """GROUP BY ALL + ORDER BY ALL over a 3-nation fixture."""
    from big_data_management_and_analytics_spark.sources import scans

    spark.createDataFrame(
        [(1, "A", 10), (2, "B", 10), (3, "C", 20)],
        schema="n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(str(tmp_path / "oba") + "/nation.parquet")
    out = [(r["n_regionkey"], r["n_nations"], r["first_nation"])
           for r in scans.sql_order_by_all(spark, str(tmp_path / "oba")).collect()]
    assert out == [(10, 2, 1), (20, 1, 3)]


def test_basket_triples_support_and_lift(spark, tmp_path):
    """3 orders each holding brands {A,B,C} plus one {A,B} order: the
    only surviving triple is (A,B,C) with support 3; lift =
    3·4²/(4·4·3) = 1.0 exactly."""
    from big_data_management_and_analytics_spark.operators import mining

    li, parts = [], {}
    brands = {1: ["BA", "BB", "BC"], 2: ["BA", "BB", "BC"],
              3: ["BA", "BB", "BC"], 4: ["BA", "BB"]}
    pk = 0
    for ok, bs in brands.items():
        for n, b in enumerate(bs, start=1):
            pk += 1
            parts[pk] = b
            li.append((ok, pk, 1, n, 1.0, 1.0, 0.0, 0.0, "N", "O",
                       _ts("2024-01-01T00:00:00")))
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "tri") + "/lineitem.parquet")
    spark.createDataFrame(
        [(k, "n", b, "t", 1, 1.0) for k, b in parts.items()],
        schema="p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.parquet(str(tmp_path / "tri") + "/part.parquet")
    out = mining.mkt_basket_triples(spark, str(tmp_path / "tri")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["x"], r["y"], r["z"], r["support"]) == ("BA", "BB", "BC", 3)
    assert r["lift3"] == 1.0


def test_hybrid_rrf_fuses_both_rankers(spark, tmp_path):
    """A doc ranked #1 by BM25 and #1 dense gets rrf = 2/61; a doc on
    only one list gets 1/(60+r) — fusion rewards agreement."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = [(1, "spark join spark join", "en", "s", 21),
            (2, "spark scan", "en", "s", 10),
            (3, "window agg", "en", "s", 10)]
    spark.createDataFrame(
        docs,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "rrf") + "/documents.parquet")
    # embeddings: doc1/doc2 similar, doc3 orthogonal
    embs = [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 0)]
    spark.createDataFrame(
        embs, schema="vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "rrf") + "/embeddings.parquet")
    out = {(r["query_id"], r["doc_id"]): r
           for r in llm_corpus.llm_hybrid_rrf(spark, str(tmp_path / "rrf")).collect()
           if r["query_id"] == "q1"}
    r1 = out[("q1", 1)]
    assert r1["rank"] == 1
    assert r1["rrf"] == round(2 / 61, 6)  # #1 on both lists
    assert ("q1", 3) in out and out[("q1", 3)]["rrf"] < r1["rrf"]


def test_sequential_patterns_direction_and_confidence(spark, tmp_path):
    """5 customers buy brand A then B (A→B support 5); one buys B then
    A (support 1, filtered). confidence(A→B) = 5/6 — all 6 bought A."""
    from big_data_management_and_analytics_spark.operators import mining
    import datetime as dt

    d = str(tmp_path / "seq")
    orders, li, parts = [], [], [(1, "n", "BA", "t", 1, 1.0), (2, "n", "BB", "t", 1, 1.0)]
    ok = 0
    for cust in range(1, 6):  # A on day 1, B on day 2
        for day, pk in ((1, 1), (2, 2)):
            ok += 1
            orders.append((ok, cust, "O", 1.0, dt.datetime(1995, 1, day), "p"))
            li.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(1995, 1, day)))
    for day, pk in ((1, 2), (2, 1)):  # cust 6: B first, then A
        ok += 1
        orders.append((ok, 6, "O", 1.0, dt.datetime(1995, 1, day), "p"))
        li.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(1995, 1, day)))
    spark.createDataFrame(
        orders,
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        parts,
        schema="p_partkey long, p_name string, p_brand string, p_type string,"
               " p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")
    out = mining.mkt_sequential_patterns(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["antecedent"], r["consequent"]) == ("BA", "BB")
    assert (r["seq_support"], r["n_antecedent"]) == (5, 6)
    assert r["confidence"] == round(5 / 6, 6)


def test_label_propagation_two_cliques(spark, tmp_path):
    """Two disjoint bipartite cliques: custs {1,2}×supps {10,11} and
    cust {3}×supp {20} — every node lands on its clique's min supplier
    id (10 / 20) after the three half-steps."""
    from big_data_management_and_analytics_spark.operators import graph
    import datetime as dt

    d = str(tmp_path / "lpa")
    _od = dt.datetime(1995, 1, 1)
    edges = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 20)]
    orders, li = [], []
    for ok, (c, s) in enumerate(edges, start=100):
        orders.append((ok, c, "O", 1.0, _od, "p"))
        li.append((ok, 1, s, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _od))
    spark.createDataFrame(
        orders,
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    got = {(r["node_kind"], r["node_id"]): r["community"]
           for r in graph.graph_label_propagation(spark, d).collect()}
    assert got == {
        ("supplier", 10): 10, ("supplier", 11): 10, ("supplier", 20): 20,
        ("customer", 1): 10, ("customer", 2): 10, ("customer", 3): 20,
    }


def test_containment_join_picks_smallest_container(spark, tmp_path):
    """Doc 1's shingles sit inside docs 2 and 3 (prefix-extended
    copies); the top-1 rule picks the SMALLER container (doc 3).
    Symmetric Jaccard would score (1,2) at only 7/10."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    d = str(tmp_path / "cont")
    base = "q w e r t y u i o"  # 9 tokens -> 7 shingles
    docs = [
        (1, base, "en", "s", 17),
        (2, base + " p a s", "en", "s", 23),  # 10 shingles, superset
        (3, base + " z", "en", "s", 19),      # 8 shingles, superset
        (4, "m n b v c x l k j h", "en", "s", 19),  # disjoint
    ]
    spark.createDataFrame(
        docs,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(d + "/documents.parquet")
    rows = llm_dedup.llm_containment_join(spark, d).collect()
    by_contained = {r["contained_id"]: r for r in rows}
    r = by_contained[1]
    assert r["container_id"] == 3  # overlap ties at 7; 8-shingle container wins
    assert (r["n_contained"], r["n_shared"]) == (7, 7)
    assert r["containment"] == 1.0
    # doc 3 is 7/8-contained in docs 1 AND 2; the smaller container
    # (doc 1, 7 shingles — containment is directional, so the pair
    # 1<->3 appears both ways) wins the nb-asc tiebreak
    assert by_contained[3]["container_id"] == 1
    assert by_contained[3]["containment"] == 0.875
    # doc 2's only size-eligible container is doc 3, which fails 10i>=8na
    assert 2 not in by_contained
    assert 4 not in by_contained  # disjoint doc has no container


def test_holt_winters_constant_seasonal_series(spark, tmp_path):
    """A perfectly periodic weekly series (value 1.00 on the 7th day of
    each week, 0 otherwise, 4 full weeks): trend ~0, forecast_7 lands on
    a spike slot, forecast_1 on a zero slot — forecast_7 > forecast_1."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    for day in range(28):
        val = 1.0 if day % 7 == 6 else 0.0
        rows.append((day, base + dt.timedelta(days=day), day, "spike", val, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "hw") + "/events.parquet")
    out = timeseries.ts_holt_winters(spark, str(tmp_path / "hw")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 28
    # level stabilizes near the weekly mean of 100/7 cents
    assert 5 < r["level_cents"] < 25
    assert abs(r["trend_cents"]) < 1.0
    # day 29 is a zero slot; day 35 (n+7) is the spike slot
    assert r["forecast_7"] > r["forecast_1"]
    assert r["forecast_7"] > 50  # spike seasonal lifts it near 100 cents


def test_bollinger_spike_breaks_upper_band(spark, tmp_path):
    """24 constant days then a 50x spike: constant windows have sigma=0
    (bands collapse onto the SMA, breakout 0); the spike day clears
    mean + 2*sigma and flags +1."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 3, 1)
    for day in range(25):
        val = 50.0 if day == 24 else 1.0
        rows.append((day, base + dt.timedelta(days=day), day, "m", val, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "bb") + "/events.parquet")
    out = {r["day"]: r
           for r in timeseries.ts_bollinger(spark, str(tmp_path / "bb")).collect()}
    assert len(out) == 6  # days 20..25 have full windows
    flat = out["2024-03-24"]
    assert (flat["close_cents"], flat["sma"], flat["breakout"]) == (100, 100.0, 0)
    assert flat["upper_band"] == flat["lower_band"] == 100.0
    spike = out["2024-03-25"]
    assert spike["close_cents"] == 5000
    assert spike["breakout"] == 1
    assert spike["upper_band"] < 5000


def test_kalman_constant_series_converges(spark, tmp_path):
    """A constant series leaves the level untouched (x == l every step)
    while the error variance contracts from its diffuse init toward the
    steady state."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = [(d, dt.datetime(2024, 5, 1) + dt.timedelta(days=d), d, "m", 1.0, "{}")
            for d in range(10)]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "kf") + "/events.parquet")
    out = timeseries.ts_kalman_filter(spark, str(tmp_path / "kf")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_days"], r["level_cents"]) == (10, 100.0)
    assert 0.0 < r["steady_gain"] < 0.51
    assert r["error_var"] < 10000.0


def test_dtw_absorbs_phase_shift(spark, tmp_path):
    """Series b repeats a's first sample (a pure phase stretch): DTW
    cost 0 where Euclidean would pay. Series c is a constant offset —
    the diagonal path is optimal and costs the L1 sum of 9 cents."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows, eid = [], 0
    series = {"a": [0.01, 0.02, 0.03], "b": [0.01, 0.01, 0.02, 0.03],
              "c": [0.05, 0.05, 0.05]}
    for et, vals in series.items():
        for day, v in enumerate(vals):
            eid += 1
            rows.append((eid, dt.datetime(2024, 7, 1) + dt.timedelta(days=day),
                         eid, et, v, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "dtw") + "/events.parquet")
    out = {(r["type_a"], r["type_b"]): r
           for r in timeseries.ts_dtw(spark, str(tmp_path / "dtw")).collect()}
    assert len(out) == 3
    assert out[("a", "b")]["dtw_cents"] == 0
    assert out[("a", "c")]["dtw_cents"] == 9
    assert out[("a", "c")]["dtw_per_step"] == 1.5  # 9 / (3 + 3)


def test_watermark_zscore_and_flag(spark, tmp_path):
    """green_frac + z follow the exact hash partition; a 2-token doc
    has n_pairs 1 and can never clear the 4-sigma flag."""
    from big_data_management_and_analytics_spark.functions import llm_corpus
    import hashlib

    docs = [(1, "alpha beta gamma alpha beta", "en", "s", 27),
            (2, "solo pair", "en", "s", 9)]
    spark.createDataFrame(
        docs,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "wm") + "/documents.parquet")
    out = {r["doc_id"]: r
           for r in llm_corpus.llm_watermark_greenlist(spark, str(tmp_path / "wm")).collect()}

    def green(prev, tok):
        return int(hashlib.md5(f"{prev} {tok}".encode()).hexdigest()[:15], 16) % 2 == 0

    toks = "alpha beta gamma alpha beta".split()
    expect_green = sum(green(a, b) for a, b in zip(toks, toks[1:]))
    r1 = out[1]
    assert (r1["n_pairs"], r1["n_green"]) == (4, expect_green)
    assert r1["green_frac"] == round(expect_green / 4, 6)
    assert r1["watermarked"] == 0  # |z| <= 2 with n=4
    r2 = out[2]
    assert r2["n_pairs"] == 1 and r2["watermarked"] == 0


def test_burst_detection_flags_dense_cluster(spark, tmp_path):
    """Events at a steady hourly cadence, then a 1-second machine-gun
    cluster: the dense gaps are far below 1/lambda0, the Viterbi path
    enters the burst state there, and n_burst_steps lands near the
    cluster size. A perfectly regular control series never bursts."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows, eid = [], 0
    base = dt.datetime(2024, 9, 1)
    # bursty: 20 hourly events, then 20 events 1s apart
    for i in range(20):
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=i), eid, "bursty", 1.0, "{}"))
    for i in range(20):
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=19, seconds=i + 1), eid,
                     "bursty", 1.0, "{}"))
    # steady control: 30 hourly events
    for i in range(30):
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=i), eid, "steady", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "bk") + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.events_burst_kleinberg(spark, str(tmp_path / "bk")).collect()}
    assert out["bursty"]["n_burst_steps"] >= 18
    assert out["steady"]["n_burst_steps"] == 0
    assert out["steady"]["n_gaps"] == 29


def test_cyclic_encode_unit_circle_and_wraparound(spark, tmp_path):
    """Hour 23 and hour 0 are circle neighbors: their encodings are
    close where raw integers are 23 apart; every encoding satisfies
    sin^2 + cos^2 = 1 to rounding."""
    from big_data_management_and_analytics_spark.operators import ml_features
    import datetime as dt

    rows = [(1, dt.datetime(2024, 1, 1, 23, 30), 1, "m", 1.0, "{}"),   # Mon 23h
            (2, dt.datetime(2024, 1, 2, 0, 30), 2, "m", 1.0, "{}"),    # Tue 0h
            (3, dt.datetime(2024, 1, 2, 12, 0), 3, "m", 1.0, "{}")]    # Tue 12h
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "cy") + "/events.parquet")
    out = {(r["hr"], r["dw"]): r
           for r in ml_features.feat_cyclic_encode(spark, str(tmp_path / "cy")).collect()}
    assert set(out) == {(23, 0), (0, 1), (12, 1)}  # Monday-0 weekday
    h23, h0, h12 = out[(23, 0)], out[(0, 1)], out[(12, 1)]
    # wraparound: 23h-0h euclidean gap far below 0h-12h (antipodal)
    d_wrap = (h23["hour_sin"] - h0["hour_sin"]) ** 2 + (h23["hour_cos"] - h0["hour_cos"]) ** 2
    d_anti = (h12["hour_sin"] - h0["hour_sin"]) ** 2 + (h12["hour_cos"] - h0["hour_cos"]) ** 2
    assert d_wrap < 0.1 < d_anti
    for r in out.values():
        assert abs(r["hour_sin"] ** 2 + r["hour_cos"] ** 2 - 1.0) < 1e-5
        assert abs(r["dow_sin"] ** 2 + r["dow_cos"] ** 2 - 1.0) < 1e-5


def test_fd_mine_detects_key_and_violation(spark, tmp_path):
    """c_custkey -> c_name holds (key); c_mktsegment -> c_nationkey is
    violated by one segment spanning two nations, strength 1/2."""
    from big_data_management_and_analytics_spark.operators import aggregations

    d = str(tmp_path / "fd")
    spark.createDataFrame(
        [(1, "alice", 10, 0.0, "AUTO"), (2, "bob", 10, 0.0, "AUTO"),
         (3, "carol", 20, 0.0, "AUTO"), (4, "dave", 30, 0.0, "STEEL")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(d + "/customer.parquet")
    import datetime as dt
    spark.createDataFrame(
        [(100, 1, "O", 1.0, dt.datetime(1995, 1, 1), "1-URGENT")],
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")
    out = {(r["det"], r["dep"]): r
           for r in aggregations.dq_fd_mine(spark, d).collect()}
    key = out[("c_custkey", "c_name")]
    assert (key["fd_holds"], key["n_violating"], key["fd_strength"]) == (1, 0, 1.0)
    seg = out[("c_mktsegment", "c_nationkey")]
    # AUTO covers nations {10, 20} -> violating; STEEL is clean
    assert (seg["fd_holds"], seg["n_groups"], seg["n_violating"]) == (0, 2, 1)
    assert seg["max_branch"] == 2 and seg["fd_strength"] == 0.5


def test_ordinal_patterns_monotone_series(spark, tmp_path):
    """A strictly increasing series emits only the all-ascending
    pattern 4+2+1=7, with share 1.0 over n-2 windows."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = [(i, dt.datetime(2024, 2, 1) + dt.timedelta(days=i), i, "up",
             float(i + 1), "{}") for i in range(6)]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "op") + "/events.parquet")
    out = timeseries.ts_ordinal_patterns(spark, str(tmp_path / "op")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["pattern_id"], r["n_windows"], r["share"]) == (7, 4, 1.0)


def test_forecast_backtest_weekly_series_favors_snaive(spark, tmp_path):
    """A pure weekly cycle: seasonal-naive is exact (AE 0) while naive
    pays the day-to-day swing — seasonal_wins flags 1."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = []
    for day in range(28):
        val = [1.0, 2.0, 3.0, 4.0, 3.0, 2.0, 1.0][day % 7]
        rows.append((day, dt.datetime(2024, 4, 1) + dt.timedelta(days=day),
                     day, "wk", val, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "bt") + "/events.parquet")
    out = timeseries.events_forecast_backtest(spark, str(tmp_path / "bt")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_folds"], r["ae_snaive_cents"], r["seasonal_wins"]) == (14, 0, 1)
    assert r["ae_naive_cents"] > 0 and r["mae_snaive"] == 0.0


def test_shapley_attribution_hand_game(spark, tmp_path):
    """2 channels: u1 converts touching only A, u2 converts touching
    A and B, u3 converts untouched. v(empty)=1, v({A})=2, v(full)=3;
    phi_A*2! = 0!1!(v(A)-v(0)) + 1!0!(v(AB)-v(B)) = 1+2 = 3, phi_B = 1.
    Efficiency: (phi_A + phi_B)/2! = v(full) - v(empty) = 2."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    ts0 = dt.datetime(2024, 6, 1)
    rows = [
        (1, ts0, 1, "click", 1.0, "{}"),      # u1 touches A=click
        (2, ts0, 1, "purchase", 1.0, "{}"),
        (3, ts0, 2, "click", 1.0, "{}"),      # u2 touches A and B
        (4, ts0, 2, "signup", 1.0, "{}"),
        (5, ts0, 2, "purchase", 1.0, "{}"),
        (6, ts0, 3, "purchase", 1.0, "{}"),   # u3 untouched
        (7, ts0, 4, "signup", 1.0, "{}"),     # u4 no conversion
    ]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "shap") + "/events.parquet")
    out = {r["channel"]: r
           for r in timeseries.events_shapley_attribution(spark, str(tmp_path / "shap")).collect()}
    assert set(out) == {"click", "signup"}
    # v(0)=1 (u3), v(click)=2 (u3,u1), v(signup)=1, v(both)=3
    assert out["click"]["phi_x_cfact"] == 3    # 1*(2-1) + 1*(3-1)... = 1+2
    assert out["signup"]["phi_x_cfact"] == 1   # 1*(1-1) + 1*(3-2)
    assert out["click"]["shapley"] == 1.5
    assert out["signup"]["shapley"] == 0.5


def test_matrix_profile_finds_planted_discord(spark, tmp_path):
    """35 flat days with one anomalous week (days 15-21 spike): the
    discord window must cover the spike, and its nearest neighbor is
    still a flat window far away in L1."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = []
    for day in range(35):
        val = 10.0 if 14 <= day <= 20 else 1.0
        rows.append((day, dt.datetime(2024, 8, 1) + dt.timedelta(days=day),
                     day, "m", val, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "mp") + "/events.parquet")
    out = timeseries.ts_matrix_profile(spark, str(tmp_path / "mp")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_windows"] == 29
    # the full-spike window is days 15..21 -> position 15 (1-based)
    assert r["discord_pos"] == 15
    assert r["discord_dist_cents"] == 7 * 900  # all-spike vs all-flat


def test_simpson_audit_detects_reversal(spark, tmp_path):
    """Planted Simpson reversal: within each brand, higher discount ->
    LOWER quantity; but the big-discount brand sells big quantities, so
    the pooled slope is positive while every stratum is negative."""
    from big_data_management_and_analytics_spark.operators import aggregations

    d = str(tmp_path / "simp")
    import datetime as dt
    sd = dt.datetime(1995, 1, 1)
    li, parts = [], [(1, "n", "B_LOW", "t", 1, 1.0), (2, "n", "B_HIGH", "t", 1, 1.0)]
    rows = [
        # brand LOW: discounts 0.00/0.01 with qty 3/1 (negative slope)
        (1, 0.00, 3.0), (1, 0.01, 1.0),
        # brand HIGH: discounts 0.05/0.06 with qty 30/10 (negative slope)
        (2, 0.05, 30.0), (2, 0.06, 10.0),
    ]
    for i, (pk, disc, qty) in enumerate(rows, start=1):
        li.append((i, pk, 1, 1, qty, 1.0, disc, 0.0, "N", "O", sd))
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        parts,
        schema="p_partkey long, p_name string, p_brand string, p_type string,"
               " p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")
    out = aggregations.dq_simpson_audit(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["overall_sign"], r["n_strata"]) == (1, 2)
    assert (r["n_positive"], r["n_negative"], r["paradox_flag"]) == (0, 2, 1)


def test_mann_kendall_monotone_and_flat(spark, tmp_path):
    """A strictly increasing 10-day series has S = C(10,2) = 45 and a
    significant +1 trend; a constant series has S = 0, all pairs tied
    (variance fully eaten by the correction), trend 0."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows = []
    for day in range(10):
        rows.append((day, dt.datetime(2024, 10, 1) + dt.timedelta(days=day),
                     day, "up", float(day + 1), "{}"))
        rows.append((100 + day, dt.datetime(2024, 10, 1) + dt.timedelta(days=day),
                     day, "flat", 5.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "mk") + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.ts_mann_kendall(spark, str(tmp_path / "mk")).collect()}
    up = out["up"]
    assert (up["s_stat"], up["trend"]) == (45, 1)
    assert up["var_x18"] == 10 * 9 * 25  # no ties
    flat = out["flat"]
    assert (flat["s_stat"], flat["var_x18"], flat["z_score"], flat["trend"]) == (0, 0, 0.0, 0)


def test_nelson_aalen_hand_risk_sets(spark, tmp_path):
    """3 users: u1 converts at hour 1, u2 at hour 2, u3 censored at
    hour 2. H(1) = 1/3; H(2) = 1/3 + 1/2 (u2 converts among the 2
    still at risk)."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    b = dt.datetime(2024, 11, 1)
    H = dt.timedelta(hours=1)
    rows = [
        (1, b, 1, "click", 1.0, "{}"), (2, b + H, 1, "purchase", 1.0, "{}"),
        (3, b, 2, "click", 1.0, "{}"), (4, b + 2 * H, 2, "purchase", 1.0, "{}"),
        (5, b, 3, "click", 1.0, "{}"), (6, b + 2 * H, 3, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "na") + "/events.parquet")
    out = {r["t_hours"]: r
           for r in timeseries.events_nelson_aalen(spark, str(tmp_path / "na")).collect()}
    assert set(out) == {1, 2}
    assert (out[1]["d_events"], out[1]["n_at_risk"]) == (1, 3)
    assert out[1]["cum_hazard"] == round(1 / 3, 6)
    assert (out[2]["d_events"], out[2]["n_at_risk"]) == (1, 2)
    assert out[2]["cum_hazard"] == round(round(1 / 3, 9) + 0.5, 6)


def test_mst_prim_tree_properties(spark, tmp_path):
    """Against a brute-force Kruskal on the same md5 coordinates: the
    picked edge set must form a spanning tree (n-1 edges, all nodes)
    with the SAME total weight (MST weight is unique even when the
    tree is not)."""
    from big_data_management_and_analytics_spark.operators import graph
    import hashlib, itertools

    d = str(tmp_path / "mst")
    keys = list(range(6))
    spark.createDataFrame(
        [(k, f"N{k}", 0) for k in keys],
        schema="n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(d + "/nation.parquet")
    out = graph.graph_mst_prim(spark, d).collect()
    assert len(out) == 5
    # reproduce coordinates + weights
    def coord(k):
        hx = hashlib.md5(f"geo:n:{k}".encode()).hexdigest()
        lat = int(hx[:15], 16) % 160000001 - 80000000
        lon = int(hx[16:31], 16) % 360000001 - 180000000
        return lat, lon
    pts = {k: coord(k) for k in keys}
    def w(i, j):
        return abs(pts[i][0] - pts[j][0]) + abs(pts[i][1] - pts[j][1])
    # brute-force Kruskal
    parent = {k: k for k in keys}
    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x
    total = 0
    for wt, i, j in sorted((w(i, j), i, j) for i, j in itertools.combinations(keys, 2)):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj
            total += wt
    got_nodes = {r["nation_a"] for r in out} | {r["nation_b"] for r in out}
    assert got_nodes == set(keys)
    assert sum(r["dist_u"] for r in out) == total
    for r in out:  # every emitted weight is the true pair distance
        assert r["dist_u"] == w(r["nation_a"], r["nation_b"])


def test_cohort_ltv_monotone_and_full_base(spark, tmp_path):
    """2 users cohort together; only one buys in week 1 — cum LTV
    still divides by BOTH users (full-base definition) and is
    monotone across ages."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    D = dt.timedelta(days=1)
    rows = [
        (1, b, 1, "purchase", 2.0, "{}"),          # u1 week0: 200c
        (2, b + 8 * D, 1, "purchase", 1.0, "{}"),  # u1 week1: 100c
        (3, b, 2, "click", 1.0, "{}"),             # u2 joins, never buys
    ]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "ltv") + "/events.parquet")
    out = {r["age_weeks"]: r
           for r in timeseries.events_cohort_ltv(spark, str(tmp_path / "ltv")).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_users"] == 2
    assert out[0]["cum_ltv"] == 1.0   # 200c / 2 users / 100
    assert out[1]["cum_ltv"] == 1.5   # 300c / 2 users / 100


def test_did_estimator_planted_lift(spark, tmp_path):
    """Control stays flat pre->post; treated jumps by +5.00. The DiD
    must recover ~500 cents regardless of level differences. Users
    are chosen by their md5 parity so cells are non-empty."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt, hashlib

    def treated(u):
        return int(hashlib.md5(f"did:{u}".encode()).hexdigest()[:15], 16) % 2

    ctrl = [u for u in range(1, 50) if treated(u) == 0][:2]
    trt = [u for u in range(1, 50) if treated(u) == 1][:2]
    b = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for day, post in ((0, 0), (10, 1)):  # span 0..10, midpoint day 5
        for u in ctrl:
            eid += 1
            rows.append((eid, b + dt.timedelta(days=day), u, "purchase", 2.0, "{}"))
        for u in trt:
            eid += 1
            val = 3.0 if post == 0 else 8.0
            rows.append((eid, b + dt.timedelta(days=day), u, "purchase", val, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "did") + "/events.parquet")
    out = timeseries.events_did_estimator(spark, str(tmp_path / "did")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["mean_ctrl_pre"] == r["mean_ctrl_post"] == 200.0
    assert (r["mean_treat_pre"], r["mean_treat_post"]) == (300.0, 800.0)
    assert r["did_cents"] == 500.0


def test_bayes_shrinkage_pulls_small_samples_harder(spark, tmp_path):
    """A 2-row brand at raw rate 1.0 shrinks hard toward the 0.1 prior;
    a 200-row brand at the same raw rate barely moves."""
    from big_data_management_and_analytics_spark.operators import aggregations
    import datetime as dt

    d = str(tmp_path / "eb")
    sd = dt.datetime(1995, 1, 1)
    li = []
    for i in range(2):
        li.append((i + 1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", sd))
    for i in range(200):
        li.append((100 + i, 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", sd))
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n", "SMALL", "t", 1, 1.0), (2, "n", "BIG", "t", 1, 1.0)],
        schema="p_partkey long, p_name string, p_brand string, p_type string,"
               " p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")
    out = {r["brand"]: r
           for r in aggregations.agg_bayes_shrinkage(spark, d).collect()}
    assert out["SMALL"]["raw_rate"] == out["BIG"]["raw_rate"] == 1.0
    assert out["SMALL"]["posterior_rate"] == round(4 / 22, 6)
    assert out["BIG"]["posterior_rate"] == round(202 / 220, 6)
    assert abs(out["SMALL"]["shrinkage"]) > abs(out["BIG"]["shrinkage"])


def test_price_elasticity_planted_response(spark, tmp_path):
    """Low band: discount 2c, qty 10. High band: discount 8c, qty 20.
    Arc e = ((20-10)*(8+2)) / ((20+10)*(8-2)) = 100/180."""
    from big_data_management_and_analytics_spark.operators import mining  # noqa: F401
    from big_data_management_and_analytics_spark.operators import aggregations as agg_mod
    from big_data_management_and_analytics_spark.operators.aggregations import mkt_price_elasticity
    import datetime as dt

    d = str(tmp_path / "el")
    sd = dt.datetime(1995, 1, 1)
    li = [
        (1, 1, 1, 1, 10.0, 1.0, 0.02, 0.0, "N", "O", sd),
        (2, 1, 1, 1, 20.0, 1.0, 0.08, 0.0, "N", "O", sd),
    ]
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        [(1, "n", "B1", "t", 1, 1.0)],
        schema="p_partkey long, p_name string, p_brand string, p_type string,"
               " p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")
    out = mkt_price_elasticity(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["q_lo"], r["q_hi"], r["d_lo"], r["d_hi"]) == (10.0, 20.0, 2.0, 8.0)
    assert r["arc_elasticity"] == round(100 / 180, 6)


def test_prefix_cache_common_prefix_and_rate(spark, tmp_path):
    """Two docs share a 6-token prefix then diverge; a third shares
    only the 4-token bucket key. Common prefix = 4 for the trio?
    No — all three share the bucket; the common prefix stops at the
    first position where ANY member diverges (position 5)."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = [
        (1, "a b c d e f x1 y1", "en", "s", 1),
        (2, "a b c d e f x2 y2", "en", "s", 1),
        (3, "a b c d q r", "en", "s", 1),
        (4, "z z z z z", "en", "s", 1),  # lone bucket -> excluded
    ]
    spark.createDataFrame(
        docs,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "pc") + "/documents.parquet")
    out = llm_corpus.llm_prefix_cache_sim(spark, str(tmp_path / "pc")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["bucket"] == "a b c d"
    assert (r["n_docs"], r["total_tokens"]) == (3, 22)
    assert r["prefix_len"] == 4  # doc 3 diverges at position 5
    assert r["cached_tokens"] == 8  # (3-1) * 4
    assert r["hit_rate"] == round(8 / 22, 6)


def test_rouge_l_hand_lcs(spark, tmp_path):
    """docs (1,2): LCS('a b c d', 'a x c d') = 3 ('a c d'); F1 =
    2*3/8 = 0.75. docs (3,4): disjoint -> 0."""
    from big_data_management_and_analytics_spark.functions import llm_corpus

    docs = [
        (1, "a b c d", "en", "s", 7),
        (2, "a x c d", "en", "s", 7),
        (3, "p q", "en", "s", 3),
        (4, "r s t", "en", "s", 5),
    ]
    spark.createDataFrame(
        docs,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "rl") + "/documents.parquet")
    out = {(r["doc_a"], r["doc_b"]): r
           for r in llm_corpus.llm_rouge_l(spark, str(tmp_path / "rl")).collect()}
    assert set(out) == {(1, 2), (3, 4)}
    assert out[(1, 2)]["lcs_len"] == 3
    assert out[(1, 2)]["rouge_l_f1"] == 0.75
    assert out[(3, 4)]["lcs_len"] == 0
    assert out[(3, 4)]["rouge_l_f1"] == 0.0


def test_power_twoprop_known_value(spark, tmp_path):
    """p1 = 0.5 maximizes variance: n = 2.8015852^2 * (0.25 + 0.52*0.48)
    / 0.0004 -> 9801 per arm (the textbook worst case)."""
    from big_data_management_and_analytics_spark.operators import aggregations
    import datetime as dt, math

    rows = []
    for i in range(100):
        status = "F" if i % 2 == 0 else "O"
        rows.append((i, 1, status, 1.0, dt.datetime(1995, 1, 1), "1-URGENT"))
    spark.createDataFrame(
        rows,
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "pw") + "/orders.parquet")
    out = aggregations.agg_power_twoprop(spark, str(tmp_path / "pw")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["baseline_rate"] == 0.5
    zsum = 1.959964 + 0.841621
    expect = math.ceil(zsum * zsum * (0.25 + 0.52 * 0.48) / 0.0004)
    assert r["n_per_arm"] == expect


def test_pacf_lag1_matches_exact_moments(spark, tmp_path):
    """pacf_1 must equal the exact n-scaled autocovariance ratio
    replicated in plain Python; a ramp series has pacf_1 near 1 and a
    much smaller second partial."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    vals = [float(v) for v in
            [1, 2, 3, 5, 4, 6, 7, 9, 8, 10, 11, 13, 12, 14, 15, 17, 16, 18, 19, 21]]
    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), i, "m", v, "{}")
            for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "pa") + "/events.parquet")
    out = timeseries.ts_pacf(spark, str(tmp_path / "pa")).collect()
    assert len(out) == 1
    r = out[0]
    xc = [int(v * 100) for v in vals]
    n, m = len(xc), sum(xc)
    def s(k):
        return sum((n * xc[t] - m) * (n * xc[t + k] - m) for t in range(n - k))
    r1 = s(1) / s(0)
    assert r["pacf_1"] == round(r1, 6)
    assert r["pacf_1"] > 0.8
    assert abs(r["pacf_2"]) < abs(r["pacf_1"])


def test_runs_test_alternating_vs_trending(spark, tmp_path):
    """A perfectly alternating series has the maximum run count (one
    run per sign, z strongly positive, not random); a step series
    (10 low then 10 high) has exactly 2 runs (z strongly negative)."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    rows, eid = [], 0
    for day in range(20):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day),
                     eid, "alt", 1.0 if day % 2 == 0 else 5.0, "{}"))
    for day in range(20):
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day),
                     eid, "step", 1.0 if day < 10 else 5.0, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "rt") + "/events.parquet")
    out = {r["event_type"]: r
           for r in timeseries.ts_runs_test(spark, str(tmp_path / "rt")).collect()}
    alt, step = out["alt"], out["step"]
    assert (alt["n_above"], alt["n_below"], alt["n_runs"]) == (10, 10, 20)
    assert alt["z_score"] > 1.96 and alt["looks_random"] == 0
    assert (step["n_runs"], step["looks_random"]) == (2, 0)
    assert step["z_score"] < -1.96


def test_cuped_perfect_covariate(spark, tmp_path):
    """Post spend = 2x pre spend exactly for every user: rho^2 = 1,
    theta = 2, variance reduction 100%."""
    from big_data_management_and_analytics_spark.operators import timeseries
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, base in ((1, 1.0), (2, 2.0), (3, 5.0)):
        eid += 1
        rows.append((eid, b, u, "purchase", base, "{}"))            # pre
        eid += 1
        rows.append((eid, b + dt.timedelta(days=10), u, "purchase",
                     2 * base, "{}"))                               # post
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "cu") + "/events.parquet")
    out = timeseries.events_cuped(spark, str(tmp_path / "cu")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_users"] == 3
    assert r["theta"] == 2.0
    assert r["rho_squared"] == 1.0
    assert r["variance_reduction_pct"] == 100.0


def test_quantile_normalize_equalizes_distributions(spark, tmp_path):
    """Two 3-day series on different scales: after QN both carry the
    same reference values (cross-type rank means) in their own order."""
    from big_data_management_and_analytics_spark.operators import ml_features
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for day, v in enumerate([1.0, 3.0, 2.0]):       # small scale
        eid += 1
        rows.append((eid, b + dt.timedelta(days=day), eid, "sm", v, "{}"))
    for day, v in enumerate([30.0, 10.0, 20.0]):    # big scale
        eid += 1
        rows.append((eid, b + dt.timedelta(days=day), eid, "bg", v, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "qn") + "/events.parquet")
    out = ml_features.feat_quantile_normalize(spark, str(tmp_path / "qn")).collect()
    assert len(out) == 6
    # reference dist: rank1 mean(100,1000)=550; rank2 mean(200,2000)=1100; rank3 mean(300,3000)=1650
    by = {(r["event_type"], r["rank"]): r["normalized_cents"] for r in out}
    assert by[("sm", 1)] == by[("bg", 1)] == 550.0
    assert by[("sm", 2)] == by[("bg", 2)] == 1100.0
    assert by[("sm", 3)] == by[("bg", 3)] == 1650.0
    # ordering preserved within each series
    days = {(r["event_type"], r["day"]): r["normalized_cents"] for r in out}
    assert days[("sm", "2024-01-02")] == 1650.0  # its max day gets rank 3
    assert days[("bg", "2024-01-01")] == 1650.0


def test_interval_scheduling_greedy_optimal(spark, tmp_path):
    """Hand case where greedy-by-end beats greedy-by-start: intervals
    [1,10], [2,3], [4,5] -> optimal 2 ([2,3], [4,5]); a long first
    interval must not block the answer."""
    from big_data_management_and_analytics_spark.operators import mining
    import datetime as dt

    d = str(tmp_path / "ivs")
    base = dt.datetime(2024, 1, 1)
    D = dt.timedelta(days=1)
    orders, li = [], []
    # (orderkey, order day, ship day) per interval
    for ok, (s, e) in enumerate([(1, 10), (2, 3), (4, 5)], start=1):
        orders.append((ok, 7, "O", 1.0, base + s * D, "p"))
        li.append((ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base + e * D))
    spark.createDataFrame(
        orders,
        schema="o_orderkey long, o_custkey long, o_orderstatus string,"
               " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")
    spark.createDataFrame(
        li,
        schema="l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
               " l_quantity double, l_extendedprice double, l_discount double,"
               " l_tax double, l_returnflag string, l_linestatus string,"
               " l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    out = mining.mkt_interval_scheduling(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["custkey"], r["n_orders"], r["max_nonoverlap"]) == (7, 3, 2)
    assert r["schedulable_frac"] == round(2 / 3, 6)


def test_robust_scale_planted_quartiles(spark, tmp_path):
    """5 known values in one group: med=300, q1=200, q3=400 (exact at
    dyadic interpolation points), so robust_z of 500.00 cents-scale is
    (50000-30000)/(40000-20000) = 1.0 and the median row scales to 0.0
    (never -0.0 — the +0.0 normalization rule)."""
    from big_data_management_and_analytics_spark.operators import ml_features

    li = spark.createDataFrame(
        [
            (1, i + 1, 1, i + 1, 1.0, float(v), 0.0, 0.0, "N", "O",
             "2024-01-01 00:00:00")
            for i, v in enumerate([100, 200, 300, 400, 500])
        ],
        schema="l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    d = str(tmp_path / "rs")
    li.write.parquet(d + "/lineitem.parquet")
    rows = {
        r.l_linenumber: r.robust_z
        for r in ml_features.feat_robust_scale(spark, d).collect()
    }
    assert rows == {1: -1.0, 2: -0.5, 3: 0.0, 4: 0.5, 5: 1.0}
    assert str(rows[3]) == "0.0"  # not -0.0


def test_gopher_rules_planted_boundaries(spark, tmp_path):
    """Three planted docs pin each rule boundary: a 50-word compliant doc
    passes; a 49-word doc fails ONLY ok_length; a doc of digit tokens
    fails ok_alpha and ok_stop."""
    from big_data_management_and_analytics_spark.functions import llm_text

    good = " ".join(["the", "be", "to", "of"] + ["word"] * 46)      # 50 words
    short = " ".join(["the", "be", "to", "of"] + ["word"] * 45)     # 49 words
    digits = " ".join(["123", "456"] * 30)                          # 60 words
    docs = spark.createDataFrame(
        [(1, good, "en", "web", len(good)),
         (2, short, "en", "web", len(short)),
         (3, digits, "en", "web", len(digits))],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "gq")
    docs.write.parquet(d + "/documents.parquet")
    out = {r.doc_id: r for r in llm_text.llm_quality_gopher(spark, d).collect()}
    assert out[1].passes_gopher == 1 and out[1].n_words == 50
    assert out[2].passes_gopher == 0 and out[2].ok_length == 0
    assert out[2].ok_word_len == 1 and out[2].ok_alpha == 1 and out[2].ok_stop == 1
    assert out[3].ok_alpha == 0 and out[3].ok_stop == 0 and out[3].ok_length == 1


def test_cluster_stats_planted_histogram(spark, tmp_path):
    """Three identical docs + two other identical docs + one unique doc:
    histogram must read {3:1 cluster, 2:1, 1:1} with corpus fractions
    3/6, 2/6, 1/6."""
    from big_data_management_and_analytics_spark.functions import llm_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "web", 30),
            (2, "alpha beta gamma delta epsilon", "en", "web", 30),
            (3, "alpha beta gamma delta epsilon", "en", "web", 30),
            (4, "zig zag zorro quux wobble", "en", "web", 25),
            (5, "zig zag zorro quux wobble", "en", "web", 25),
            (6, "completely different text entirely here", "en", "web", 39),
        ],
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "cs")
    docs.write.parquet(d + "/documents.parquet")
    out = {
        r.cluster_size: (r.n_clusters, r.n_docs, r.corpus_frac)
        for r in llm_dedup.llm_dedup_cluster_stats(spark, d).collect()
    }
    assert out[3] == (1, 3, 0.5)
    assert out[2] == (1, 2, round(2 / 6, 6))
    assert out[1] == (1, 1, round(1 / 6, 6))


def test_portable_trig_bit_identical_across_engines(spark):
    """The polynomial sin/cos/asin texts must evaluate BIT-identically
    in Spark and DuckDB (pure IEEE double trees — the whole point), and
    track libm to <1e-11. Guards the join_geo_haversine fix: libm asin
    differed by 1 ulp between the engines on a raw distance that sat
    exactly on a round-6 half boundary (sf0.1 sweep, round 5)."""
    import math
    import struct

    import duckdb

    from big_data_management_and_analytics_spark.functions.portable_trig import (
        asin_text,
        cos_text,
        lit,
        sin_text,
    )

    n = 2001
    trig_sql = (
        f"SELECT i, {sin_text('x', 'x2')} AS psin, {cos_text('x2')} AS pcos "
        "FROM (SELECT i, x, x * x AS x2 FROM tb)"
    )
    asin_sql = (
        f"SELECT i, {asin_text('y', 'y2', 'z', 'z2')} AS pasin "
        "FROM (SELECT i, y, y*y AS y2, z, z*z AS z2 "
        "      FROM (SELECT i, y, SQRT((1.0e0 - y) * 5.0e-1) AS z FROM ty))"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW tb AS SELECT i, (i - {n // 2}) * {lit(math.pi / (n // 2))} AS x "
        f"FROM range({n}) t(i)"
    )
    con.execute(
        f"CREATE VIEW ty AS SELECT i, i * {lit(1.0 / (n - 1))} AS y FROM range({n}) t(i)"
    )
    duck_t = {r[0]: (r[1], r[2]) for r in con.execute(trig_sql).fetchall()}
    duck_a = {r[0]: r[1] for r in con.execute(asin_sql).fetchall()}

    spark.range(n).selectExpr(
        "id AS i", f"(id - {n // 2}) * {lit(math.pi / (n // 2))} AS x"
    ).createOrReplaceTempView("tb")
    spark.range(n).selectExpr(
        "id AS i", f"id * {lit(1.0 / (n - 1))} AS y"
    ).createOrReplaceTempView("ty")
    sp_t = {r[0]: (r[1], r[2]) for r in spark.sql(trig_sql).collect()}
    sp_a = {r[0]: r[1] for r in spark.sql(asin_sql).collect()}

    bits = lambda v: struct.pack(">d", v)  # noqa: E731
    assert all(
        bits(duck_t[i][0]) == bits(sp_t[i][0]) and bits(duck_t[i][1]) == bits(sp_t[i][1])
        for i in duck_t
    )
    assert all(bits(duck_a[i]) == bits(sp_a[i]) for i in duck_a)
    assert max(
        abs(sp_t[i][0] - math.sin((i - n // 2) * math.pi / (n // 2))) for i in sp_t
    ) < 1e-11
    assert max(abs(sp_a[i] - math.asin(i / (n - 1))) for i in sp_a) < 1e-11


def test_geo_haversine_boundary_pair_regression(spark, tmp_path):
    """The exact pair the sf0.1 sweep caught (custkey 14845 / suppkey
    198, nation 7): raw distance 12148.7576825 sits ON the round-6 half
    boundary, and the engines' libm asin disagreed by 1 ulp there. With
    the shared polynomial + FLOOR(x*1e6+0.5) the result is deterministic
    by construction: half-up to .757683 in BOTH engines, verified here
    against a pure-Python replay of the identical IEEE op sequence."""
    import hashlib as _hl
    import math

    from big_data_management_and_analytics_spark.functions.portable_trig import (
        _asin_coeffs,
        _cos_coeffs,
        _sin_coeffs,
    )
    from big_data_management_and_analytics_spark.operators import joins

    spark.createDataFrame(
        [(14845, "c", 7, 0.0, "S")],
        schema="c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "geo") + "/customer.parquet")
    spark.createDataFrame(
        [(198, "s", 7, 0.0)],
        schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(str(tmp_path / "geo") + "/supplier.parquet")
    out = joins.join_geo_haversine(spark, str(tmp_path / "geo")).collect()
    assert len(out) == 1

    def coord(prefix, key):
        hx = _hl.md5(f"{prefix}{key}".encode()).hexdigest()
        return (
            int(hx[0:15], 16) % 160000001 - 80000000,
            int(hx[16:31], 16) % 360000001 - 180000000,
        )

    def horner(x2, coeffs):
        acc = coeffs[-1]
        for c in reversed(coeffs[:-1]):
            acc = c + x2 * acc
        return acc

    def psin(x):
        return x * horner(x * x, _sin_coeffs())

    def pcos(x):
        return horner(x * x, _cos_coeffs())

    def pasin(y):
        if y <= 0.5:
            return y * horner(y * y, _asin_coeffs())
        z = math.sqrt((1.0 - y) * 0.5)
        return 1.5707963267948966 - 2.0 * (z * horner(z * z, _asin_coeffs()))

    (clat, clon), (slat, slon) = coord("geo:c:", 14845), coord("geo:s:", 198)
    d2r = math.pi / 180 / 1e6
    d2rh = math.pi / 180 / 1e6 / 2
    sdlat = psin((slat - clat) * d2rh)
    sdlon = psin((slon - clon) * d2rh)
    a = min(sdlat * sdlat + pcos(clat * d2r) * pcos(slat * d2r) * sdlon * sdlon, 1.0)
    want = math.floor(1.2742e4 * pasin(math.sqrt(a)) * 1.0e6 + 5.0e-1) / 1.0e6
    assert out[0]["dist_km"] == want  # bit-exact, not approximately
    # The polynomial places the raw value deterministically just BELOW
    # the half (its ~1e-13 error is the same in every engine), so both
    # engines agree on .757682 — determinism, not a particular side.
    assert want == 12148.757682


def test_embed_quantize_half_tie_cross_engine(spark, tmp_path):
    """A planted element at exactly amax/2 makes the quantize quotient
    land on exactly 63.5 — the tie where Spark bround (half-even → 63)
    and DuckDB round (half-away → 64) used to SILENTLY disagree before
    the shared FLOOR(q + 0.5) form. Both engines must emit identical
    rows on the planted tie, and the quantized tie element must be the
    half-up 64 (observable through the dequantized reconstruction of a
    one-hot companion fixture where the tie is the only error source)."""
    import duckdb

    import big_data_management_and_analytics_spark as engine

    engine.load_all()
    q = engine.all_queries()["llm_embed_quantize"]
    d = str(tmp_path / "q")
    spark.createDataFrame(
        [(1, [0.5, 1.0] + [0.0] * 62, 0)],
        schema="vec_id long, embedding array<float>, label int",
    ).write.parquet(d + "/embeddings.parquet")
    assert 0.5 * 127.0 / 1.0 == 63.5  # the quotient IS the exact tie
    srow = q.fn(spark, d).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    drow = con.execute(q.oracle).fetchone()
    assert (srow["vec_id"], srow["abs_max"], srow["q_abs_max"]) == drow[:3]
    assert srow["recon_err_l2"] == drow[3]
    # q=64 (half-up): the only reconstruction error is the tie element,
    # |0.5 - 64/127| (identical magnitude to q=63 — which is exactly why
    # the old mismatch was invisible in THIS projection; the cross-engine
    # row equality above is the real pin)
    assert abs(srow["recon_err_l2"] - abs(0.5 - 64.0 / 127.0)) < 1e-6

    # NEGATIVE tie (r5 ADVICE): FLOOR(q + 0.5) sends ties toward +inf on
    # both signs, so -63.5 -> -63 (toward zero) while +63.5 -> +64 (away)
    # — asymmetric about zero, unlike round-half-away. The recon-err
    # projection can't see the direction (|−0.5+63/127| = |0.5−64/127|),
    # so pin the raw quantized value in BOTH engines directly…
    assert spark.sql("SELECT FLOOR(-63.5 + 0.5) AS q").collect()[0]["q"] == -63
    assert con.execute("SELECT FLOOR(-63.5 + 0.5)").fetchone()[0] == -63
    # …and run the full operator cross-engine on a planted negative tie.
    dneg = str(tmp_path / "qneg")
    spark.createDataFrame(
        [(2, [-0.5, 1.0] + [0.0] * 62, 0)],
        schema="vec_id long, embedding array<float>, label int",
    ).write.parquet(dneg + "/embeddings.parquet")
    srow_n = q.fn(spark, dneg).collect()[0]
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{dneg}/embeddings.parquet/*.parquet')"
    )
    drow_n = con2.execute(q.oracle).fetchone()
    assert (srow_n["vec_id"], srow_n["abs_max"], srow_n["q_abs_max"]) == drow_n[:3]
    assert srow_n["recon_err_l2"] == drow_n[3]
    assert abs(srow_n["recon_err_l2"] - abs(-0.5 + 63.0 / 127.0)) < 1e-6


def test_holt_linear_fold_bit_equals_python_replay(spark, tmp_path):
    """ts_holt_linear's per-entity double fold must be BIT-equal to a
    pure-Python replay of the identical IEEE op sequence across many
    random series — a sequential fold has no summation-order freedom,
    so any difference is an op-order or rounding-semantics bug (the
    round-5 hazard class). 50 seeded series, one Spark job."""
    import math
    import random

    from big_data_management_and_analytics_spark.operators import timeseries

    rng = random.Random(42)
    rows = []
    series = {}
    eid = 0
    for u in range(1, 51):
        vals = [rng.randrange(1, 2_000_000) / 100.0 for _ in range(rng.randrange(2, 30))]
        series[u] = vals
        for i, v in enumerate(vals):
            eid += 1
            rows.append((eid, _ts(f"2024-01-{1 + i // 24:02d}T{i % 24:02d}:00:00"), u, "click", v, "{}"))
    spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "hl") + "/events.parquet")

    def replay(vals):
        l, b = vals[0], vals[1] - vals[0]
        for x in vals[1:]:
            l_new = 0.5 * x + 0.5 * (l + b)
            b_new = 0.2 * (l_new - l) + 0.8 * b
            l, b = l_new, b_new
        p6 = lambda v: math.floor(v * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
        return p6(l), p6(b), p6(l + b)

    out = {r["user_id"]: r for r in timeseries.ts_holt_linear(spark, str(tmp_path / "hl")).collect()}
    assert len(out) == 50
    for u, vals in series.items():
        # the operator sorts by (ts, event_id); insertion order above is
        # already (ts, event_id)-ascending per user, so the replay order
        # matches
        lvl, trd, fc = replay(vals)
        r = out[u]
        assert (r["level"], r["trend"], r["forecast_1"]) == (lvl, trd, fc), u


def test_rows_tier_approx_aggregates_within_error_bounds(spark, registry):
    """The approx rows-tier ids (no oracle possible — estimates are
    engine-specific) must still be CORRECT approximations: within the
    documented error envelopes of the exact answers on the same data."""
    from tests.conftest import SF_SMALL

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    exact_parts, exact_orders = li.selectExpr(
        "count(distinct l_partkey)", "count(distinct l_orderkey)"
    ).collect()[0]

    r = registry["agg_approx_distinct"].fn(spark, SF_SMALL).collect()[0]
    # approx_count_distinct default rsd = 0.05 → allow 5 sigma
    assert abs(r["approx_parts"] - exact_parts) <= 0.25 * exact_parts
    assert abs(r["approx_orders"] - exact_orders) <= 0.25 * exact_orders

    # GK sketch with accuracy 10000: rank error <= n/10000 (< 1 row at
    # this sf) — the approx percentile must be bracketed by the exact
    # values two rank-percent either side
    out = {r["l_returnflag"]: r for r in registry["agg_approx_percentile"].fn(spark, SF_SMALL).collect()}
    brackets = {
        rr["l_returnflag"]: rr
        for rr in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.48)").alias("lo50"),
            F.expr("percentile(l_extendedprice, 0.52)").alias("hi50"),
            F.expr("percentile(l_extendedprice, 0.88)").alias("lo90"),
            F.expr("percentile(l_extendedprice, 0.92)").alias("hi90"),
        )
        .collect()
    }
    for flag, r in out.items():
        b = brackets[flag]
        assert b["lo50"] <= r["approx_median"] <= b["hi50"], flag
        assert b["lo90"] <= r["approx_p90"] <= b["hi90"], flag


def test_rows_tier_hll_sketch_estimates_and_union(spark, registry):
    """HLL estimates within 5% of the exact distincts they ride along
    with; the union-merged global estimate must be consistent (at least
    the biggest group, at most the sum, within HLL error)."""
    from tests.conftest import SF_SMALL

    rows = registry["agg_hll_sketch"].fn(spark, SF_SMALL).collect()
    per = [r for r in rows if r["event_type"] != "__all__"]
    glob = [r for r in rows if r["event_type"] == "__all__"]
    assert len(glob) == 1 and len(per) >= 2
    for r in per:
        assert abs(r["approx_users"] - r["exact_users"]) <= max(
            3, 0.05 * r["exact_users"]
        ), r["event_type"]
    biggest = max(r["exact_users"] for r in per)
    total = sum(r["exact_users"] for r in per)
    assert 0.9 * biggest <= glob[0]["approx_users"] <= 1.1 * total


def test_rows_tier_samples_deterministic_and_bounded(spark, registry):
    """Seeded samples must reproduce exactly across invocations (the
    property that makes them usable in a pipeline) and honor their
    fractions within binomial bounds; stratified sampling must keep the
    fraction-1.0 stratum complete."""
    from tests.conftest import SF_SMALL

    import math

    a = registry["agg_sample_deterministic"].fn(spark, SF_SMALL).collect()
    b = registry["agg_sample_deterministic"].fn(spark, SF_SMALL).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n_base = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").count()
    sigma = math.sqrt(n_base * 0.1 * 0.9)
    assert abs(len(a) - 0.1 * n_base) <= 5 * sigma
    base_keys = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert all((r["l_orderkey"], r["l_linenumber"]) in base_keys for r in a)

    s1 = {r["event_type"]: r["n_sampled"] for r in registry["agg_sample_stratified"].fn(spark, SF_SMALL).collect()}
    s2 = {r["event_type"]: r["n_sampled"] for r in registry["agg_sample_stratified"].fn(spark, SF_SMALL).collect()}
    assert s1 == s2
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    base = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    if "purchase" in base:
        assert s1.get("purchase") == base["purchase"]  # fraction 1.0 keeps all
    for t, frac in (("click", 0.1), ("view", 0.2)):
        if t in base:
            sig = math.sqrt(base[t] * frac * (1 - frac))
            assert abs(s1.get(t, 0) - frac * base[t]) <= 5 * sig + 1, t


def test_rows_tier_limit_unordered_subset(spark, registry):
    """limit(100): exactly 100 rows, every one a genuine lineitem row."""
    from tests.conftest import SF_SMALL

    out = registry["limit_unordered"].fn(spark, SF_SMALL).collect()
    assert len(out) == 100
    base_keys = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert all((r["l_orderkey"], r["l_linenumber"]) in base_keys for r in out)


def test_stream_watermark_late_drops_but_never_invents(spark):
    """Append-mode with a 10-minute watermark after the late file: every
    emitted hourly count must be <= the full-data batch count for that
    hour (late rows are DROPPED, never duplicated or invented), and the
    total emitted must be strictly less than the rows replayed (the late
    file's contribution plus unclosed tail windows are withheld)."""
    from tests.conftest import SF_SMALL

    from big_data_management_and_analytics_spark.streaming import live

    out = {r["window_start"]: r["n_events"] for r in live.stream_watermark_late(spark, SF_SMALL).collect()}
    assert len(out) > 0
    full = {
        r["ws"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
        .collect()
    }
    for ws, n in out.items():
        assert ws in full and n <= full[ws], ws
    assert sum(out.values()) < 2000  # something was dropped/withheld


def test_stream_stream_outer_join_matches_inner_plus_nulls(spark):
    """The left-outer stream-stream join must contain the inner join's
    match set EXACTLY (matches emit as found in both), plus only
    null-click rows for unmatched purchases."""
    from tests.conftest import SF_SMALL

    from big_data_management_and_analytics_spark.streaming import live

    inner = {(r["purchase_id"], r["click_id"])
             for r in live.stream_stream_join_live(spark, SF_SMALL).collect()}
    outer_rows = live.stream_stream_outer_join_live(spark, SF_SMALL).collect()
    outer_matched = {(r["purchase_id"], r["click_id"])
                     for r in outer_rows if r["click_id"] is not None}
    assert outer_matched == inner
    for r in outer_rows:
        if r["click_id"] is None:
            assert r["c_ts"] is None  # null click columns come together


def test_stream_output_modes_ordering_invariants(spark):
    """All four sink modes emit rows; append (only watermark-closed
    windows) can never exceed update or complete."""
    from tests.conftest import SF_SMALL

    from big_data_management_and_analytics_spark.streaming import live

    out = {r["mode"]: r["n_rows"] for r in live.stream_output_modes(spark, SF_SMALL).collect()}
    assert set(out) == {"append", "update", "complete", "foreach_batch_parquet"}
    assert all(n > 0 for n in out.values()), out
    assert out["append"] <= out["update"]
    assert out["append"] <= out["complete"]


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_components_oracle_converges_inside_unroll_bound(sf):
    """The llm_dedup_components oracle (round 6: bounded unrolled
    MATERIALIZED-CTE label propagation replacing the sf0.1-prohibitive
    recursive closure) must reach its fixpoint INSIDE the unroll bound:
    rounds-1 and rounds emit identical labels, so Spark's early-exit
    loop and the fixed unroll agree (the graph_kcore argument).
    Measured fixpoint is 4 rounds at sf0.01 and 7 at sf0.1; the bound
    is COMPONENTS_ORACLE_ROUNDS (12).
    Runs at BOTH sweep scales (VERDICT r7 item 5): the engine loop and
    the oracle share the bound, so differential testing is structurally
    blind to a joint unconverged state — this test plus the engine's
    loud not-converged RuntimeError are the only guards."""
    import os

    import duckdb

    from big_data_management_and_analytics_spark.functions.llm_dedup import (
        COMPONENTS_ORACLE_ROUNDS,
        _components_oracle,
    )

    path = f"/root/testdata/{sf}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{sf} fixtures absent")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    last = con.execute(_components_oracle(COMPONENTS_ORACLE_ROUNDS)).fetchall()
    prev = con.execute(_components_oracle(COMPONENTS_ORACLE_ROUNDS - 1)).fetchall()
    assert sorted(last) == sorted(prev)
    # and the labels are a valid component labeling: every rep is a doc
    # in its own component (rep label == rep id), each doc's rep <= id.
    lbl = dict(last)
    assert all(lbl[rep] == rep for rep in set(lbl.values()))
    assert all(rep <= doc for doc, rep in lbl.items())


def test_components_fail_loudly_short_of_their_fixpoint(spark, monkeypatch):
    """At sf0.01 the labels change for 4 rounds; with the bound at 2 the
    engine raises instead of returning a partial closure."""
    from tests.conftest import SF_T2

    from big_data_management_and_analytics_spark.functions import llm_dedup

    monkeypatch.setattr(llm_dedup, "COMPONENTS_ORACLE_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not reach its fixpoint within 2"):
        llm_dedup.llm_dedup_components(spark, SF_T2)


def test_events_value_is_cents_grained(spark):
    """ts_ewma (round 5) quantizes events.value to integer cents via
    FLOOR(value*100 + 0.5) before its exact-decimal fold — sound only
    while the fixture's value column IS cents-grained. Guard that
    assumption on every sf the suite touches, so a finer-grained future
    fixture fails HERE instead of silently truncating sub-cent precision
    inside the ewma semantics (r5 ADVICE). The round-trip is bit-exact:
    cents/100.0 re-lands on the identical double when and only when the
    value was produced as a 2-decimal quantity."""
    from pyspark.sql import functions as F

    from big_data_management_and_analytics_spark.sources.io import load

    import os

    # sf0.1 is where bench/sweep also run ts_ewma — guard it too when
    # the fixture dir exists (ADVICE r6; absent on minimal checkouts).
    sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    if os.path.isdir("/root/testdata/sf0.1"):
        sfs.append("/root/testdata/sf0.1")
    for sf in sfs:
        e = load(spark, sf, "events")
        bad = e.filter(
            ~(
                F.col("value")
                == F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
                / F.lit(100.0)
            )
        ).count()
        assert bad == 0, f"{sf}: {bad} events.value rows are not cents-grained"
