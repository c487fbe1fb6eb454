"""Category K (text) — text analysis for training-data pipelines
(SURVEY.md §2.K + task-mandated text-analysis additions).

One tokenizer (functions/strings.py::tokens) is shared by every text
operator so Spark and oracle results agree by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.functions.strings import SQL_TOKENS, tokens
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import load, local_frame, spread


@register(
    "llm_text_wordcount",
    "K",
    oracle=f"""
        WITH words AS (
            SELECT UNNEST({SQL_TOKENS.format(col='text')}) AS word FROM documents
        )
        SELECT word, COUNT(*) AS freq
        FROM words
        GROUP BY word
        ORDER BY freq DESC, word ASC
        LIMIT 50
    """,
    doc="Global term frequencies, top-50 with word tiebreak.",
)
def llm_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        spread(d, "doc_id")
        .select(F.explode_outer(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(50)
    )


@register(
    "llm_text_tfidf",
    "K",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT doc_id, term, tfidf
        FROM scored
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) <= 3
    """,
    doc=(
        "TF-IDF top-3 terms per document; ranking uses the ROUNDED score "
        "so cross-engine ordering is stable (§2.0 rule 4)."
    ),
)
def llm_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # skip_when_split: words feeds ONE chain (tf; df derives from tf), so
    # on a ≥width multi-file input the exchange is pure cost (A/B at a
    # 64-file sf0.1 copy: 5.0 → 2.3 s engine-only, r7).
    words = (
        spread(d, "doc_id", skip_when_split=True)
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (distinct (doc,term) already materialized) — avoids
    # a second tokenize+explode scan of the corpus.
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "llm_text_stats",
    "K",
    oracle="""
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
    doc="Corpus stats per lang×source (exact int-sum average).",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "llm_text_quality",
    "K",
    oracle=f"""
        SELECT doc_id,
               CAST(len({SQL_TOKENS.format(col='text')}) AS INT) AS n_tokens,
               CAST(len(list_distinct({SQL_TOKENS.format(col='text')})) AS INT) AS n_unique,
               ROUND(CAST(len(list_distinct({SQL_TOKENS.format(col='text')})) AS DOUBLE)
                     / len({SQL_TOKENS.format(col='text')}), 6) AS lexical_diversity,
               ROUND(CAST(n_chars AS DOUBLE) / len({SQL_TOKENS.format(col='text')}), 6) AS avg_token_len,
               CAST(len(list_filter({SQL_TOKENS.format(col='text')},
                    w -> w IN ('the', 'a'))) AS INT) AS n_stopwords
        FROM documents
    """,
    doc=(
        "Quality scoring: token count, lexical diversity, avg token length, "
        "stopword count — the filter-features of a training-data pipeline."
    ),
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique"),
        F.round(n_unique.cast("double") / n_tokens, 6).alias("lexical_diversity"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 6).alias("avg_token_len"),
        F.size(F.filter(toks, lambda w: w.isin("the", "a"))).alias("n_stopwords"),
    )


@register(
    "llm_text_tokencount",
    "K",
    oracle=f"""
        SELECT doc_id,
               CAST(len({SQL_TOKENS.format(col='text')}) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens,
               CAST(n_chars AS INT) AS chars
        FROM documents
    """,
    doc=(
        "Token counting two ways: whitespace tokens and a BPE-ish regex "
        "(letter runs | single digits | punctuation) — the cheap token-"
        "budget estimators of a training-data pipeline."
    ),
)
def llm_text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bpe_ish = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), 0)
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(bpe_ish).alias("bpe_ish_tokens"),
        F.col("n_chars").cast("int").alias("chars"),
    )


@register(
    "llm_text_langid",
    "K",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, lang,
                   len(list_filter({SQL_TOKENS.format(col='text')},
                       w -> w IN ('the', 'a', 'value', 'data'))) AS en_hits,
                   len({SQL_TOKENS.format(col='text')}) AS n_tokens
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens >= 0.05
                    THEN 'en_like' ELSE 'other' END AS lang_guess,
               ROUND(CAST(en_hits AS DOUBLE) / n_tokens, 6) AS en_score
        FROM feats
    """,
    doc=(
        "Language-ID heuristic: stopword-hit-rate scoring (the n-gram "
        "LM reduces to the same shape: per-doc feature ratio → threshold)."
    ),
)
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    en_hits = F.size(F.filter(toks, lambda w: w.isin("the", "a", "value", "data")))
    score = en_hits.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.when(score >= 0.05, "en_like").otherwise("other").alias("lang_guess"),
        F.round(score, 6).alias("en_score"),
    )


@register(
    "llm_text_fingerprint",
    "K",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(lower(text), '\\s+'))), ' ')) AS shingle_print,
               substr(md5(text), 1, 8) AS prefix_print
        FROM documents
    """,
    doc=(
        "Document fingerprinting: order-insensitive vocabulary hash (catches "
        "shuffled near-dups) + content-hash prefix."
    ),
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    vocab = F.array_sort(F.array_distinct(tokens(F.col("text"))))
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", vocab)).alias("shingle_print"),
        F.substring(F.md5("text"), 1, 8).alias("prefix_print"),
    )


@register(
    "llm_text_ngram",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        ),
        grams AS (
            SELECT t[i] || ' ' || t[i + 1] AS bigram
            FROM toks, (SELECT unnest(generate_series(1, 200)) AS i) AS idx
            WHERE i <= len(t) - 1
        )
        SELECT bigram, COUNT(*) AS n
        FROM grams
        GROUP BY bigram
        ORDER BY n DESC, bigram ASC
        LIMIT 20
    """,
    doc=(
        "Word-bigram frequencies, global top-20 with bigram tiebreak. "
        "Spark builds bigrams with a codegen transform over an index "
        "sequence (no Python); the oracle expands positions via "
        "generate_series (P4: no WITH ORDINALITY). The 200 cap bounds the "
        "series; fixture docs are far shorter (asserted in tests)."
    ),
)
def llm_text_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    # Total guard (round-2 advice): for docs with <= 1 token,
    # sequence(1, size-1) would descend and element_at(t, 0) raises under
    # ANSI mode — emit an empty array instead, same as the shingle ops.
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # spread + explode_outer: see _explode_grams — keeps the bigram
    # expression off the single-file scan task and out of the inferred
    # size>0 pushdown filter.
    return (
        spread(d, "doc_id")
        .select(F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@register(
    "llm_doc_chunking",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        )
        SELECT doc_id,
               CAST((start - 1) // 40 AS INT) AS chunk_idx,
               CAST(len(list_slice(t, start, least(start + 49, len(t)))) AS INT)
                   AS n_chunk_tokens,
               array_to_string(list_slice(t, start, least(start + 49, len(t))), ' ')
                   AS chunk_text
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t), 40)) AS start
        ) s
    """,
    doc=(
        "Context-window chunking: token windows of 50 with stride 40 "
        "(10-token overlap) per document — the standard pre-tokenization "
        "split for LLM training shards. Chunk starts come from a sequence "
        "generator and slices stay codegen-side; at 100 TB this is "
        "embarrassingly parallel (no shuffle at all until a downstream "
        "groupBy). Oracle expands starts via generate_series with stride."
    ),
)
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    base = d.select("doc_id", t.alias("t"))
    starts = F.sequence(F.lit(1), F.size("t"), F.lit(40))
    chunked = base.select(
        "doc_id", "t", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        ((F.col("start") - 1) / 40).cast("int").alias("chunk_idx"),
        F.slice(F.col("t"), F.col("start"), F.lit(50)).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_chunk_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


@register(
    "llm_pack_sequences",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   CAST(len({SQL_TOKENS.format(col='text')}) AS BIGINT) AS n_tok
            FROM documents
        ),
        runsum AS (
            SELECT shard, doc_id, n_tok,
                   SUM(n_tok) OVER (
                       PARTITION BY shard
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM toks
        )
        SELECT shard, doc_id, n_tok,
               CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id,
               CAST(cum - n_tok - ((cum - n_tok) // 256) * 256 AS BIGINT)
                   AS offset_in_pack
        FROM runsum
    """,
    doc=(
        "Sequence packing for training batches, SHARD-LOCAL: docs hash to "
        "a shard (doc_id % 8), and within each shard docs in doc_id order "
        "are laid head-to-tail into 256-token context windows; pack_id = "
        "which window a doc STARTS in (per shard), offset_in_pack = its "
        "start offset (docs may straddle packs — offset packing, the "
        "deterministic streaming formulation). The cumsum window is "
        "PARTITIONED BY shard, so the plan is one hash shuffle with every "
        "shard packing independently in parallel — at 100 TB shards map "
        "to output files and no task ever sees more than one shard."
    ),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    toks = d.select(
        (F.col("doc_id") % 8).alias("shard"),
        "doc_id",
        F.size(t).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runsum = toks.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    pack = F.floor(start / 256)
    return runsum.select(
        "shard",
        "doc_id",
        "n_tok",
        pack.alias("pack_id"),
        (start - pack * 256).cast("long").alias("offset_in_pack"),
    )


@register(
    "llm_pipeline_clean",
    "K",
    oracle=f"""
        WITH hashed AS (
            SELECT doc_id, lang, source, n_chars, md5(text) AS h,
                   {SQL_TOKENS.format(col='text')} AS t
            FROM documents
        ),
        canonical AS (
            SELECT * FROM hashed
            QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1
        ),
        filtered AS (
            SELECT * FROM canonical
            WHERE len(t) >= 5
              AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(t) AS BIGINT)) AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 4)
                   AS avg_chars
        FROM filtered
        GROUP BY lang, source
    """,
    doc=(
        "End-to-end corpus cleaning pipeline in ONE declarative plan: "
        "exact dedup (md5 content hash, min-doc_id canonical) → quality "
        "gate (>=5 tokens, >=0.3 lexical diversity) → per (lang, source) "
        "shard stats for the training mix. Composes the dedup + quality + "
        "stats stages the individual llm_* ids verify separately; at "
        "100 TB this is two shuffles (hash-dedup, final group)."
    ),
)
def llm_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    hashed = d.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("h"), t.alias("t")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    canonical = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    n_tok = F.size("t")
    filtered = canonical.filter(
        (n_tok >= 5)
        & (F.size(F.array_distinct("t")).cast("double") / n_tok >= 0.3)
    )
    return filtered.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("long")).alias("total_tokens"),
        F.round(
            F.sum(F.col("n_chars").cast("long")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_chars"),
    )


@register(
    "llm_text_repetition",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        ),
        g AS (
            SELECT doc_id, t,
                   list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1]) AS b
            FROM toks
        )
        SELECT doc_id,
               CAST(len(t) AS INT) AS n_tokens,
               ROUND(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS dup_token_ratio,
               CASE WHEN len(t) > 1
                    THEN ROUND(1 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b), 6)
                    ELSE 0.0 END AS dup_bigram_ratio
        FROM g
    """,
    doc=(
        "Gopher-style repetition quality signal per document: duplicate-"
        "token ratio and duplicate-bigram ratio (1 - distinct/total). "
        "Computed entirely with codegen array ops (no explode, no shuffle) "
        "- at 100 TB this is a map-only pass over the corpus."
    ),
)
def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    base = d.select("doc_id", t.alias("t"))
    b = F.when(
        F.size("t") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    withb = base.withColumn("b", b)
    return withb.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.round(
            F.lit(1)
            - F.size(F.array_distinct("t")).cast("double") / F.size("t"),
            6,
        ).alias("dup_token_ratio"),
        F.when(
            F.size("t") > 1,
            F.round(
                F.lit(1)
                - F.size(F.array_distinct("b")).cast("double") / F.size("b"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


@register(
    "llm_contamination",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(t) - 4),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4])) AS gs
            FROM toks
        ),
        eval_grams AS (
            SELECT DISTINCT UNNEST(gs) AS gram FROM grams WHERE doc_id % 50 = 0
        ),
        train_grams AS (
            SELECT doc_id, UNNEST(gs) AS gram FROM grams WHERE doc_id % 50 <> 0
        ),
        hits AS (
            SELECT tg.doc_id, COUNT(*) AS n_shared_grams
            FROM train_grams tg JOIN eval_grams eg ON tg.gram = eg.gram
            GROUP BY tg.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
               COALESCE(h.n_shared_grams, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 50 <> 0
    """,
    doc=(
        "Benchmark-contamination check: flag training documents sharing any "
        "5-gram with a held-out eval set (doc_id % 50 = 0). The eval-side "
        "distinct gram set is tiny and broadcast; the train side streams "
        "through a map-side hash join - no O(n^2) pair join. At 100 TB the "
        "broadcast set becomes a bloom filter with identical plan shape."
    ),
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    grams = _five_grams(d)
    eval_grams = _explode_grams(grams.filter(F.col("doc_id") % 50 == 0)).distinct()
    train_grams = _explode_grams(
        grams.filter(F.col("doc_id") % 50 != 0), "doc_id"
    )
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    train_docs = d.filter(F.col("doc_id") % 50 != 0).select("doc_id")
    return (
        train_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _five_grams(d: DataFrame) -> DataFrame:
    """doc_id + distinct 5-gram array (shared by the exact and bloom
    contamination operators so both see identical grams).

    The gram expression is the expensive part (per-position concat over
    the token array), so spread the scan FIRST: the fixture is one small
    parquet file = one input partition, and without the repartition the
    whole corpus tokenizes in a single task (measured 28 s at sf0.1 —
    ~1 s spread across 32). At real scale the file count provides the
    parallelism and the cheap pre-gram shuffle still hashes only raw
    text bytes (see sources/io.py::spread)."""
    d = spread(d, "doc_id")
    t = tokens(F.col("text"))
    five = F.when(
        F.size("t") >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(F.col("t"), i + k) for k in range(5)],
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", t.alias("t")).withColumn("gs", five)


def _explode_grams(grams: DataFrame, *cols: str) -> DataFrame:
    """Explode the gram array WITHOUT re-evaluating it in the scan task.

    A plain ``explode`` makes Spark infer ``size(gs) > 0 AND
    isnotnull(gs)`` and push that filter below _five_grams' repartition
    exchange — with the entire gram expression inlined, the whole corpus
    grams (several times over) inside the single-file scan task, undoing
    the repartition (measured: 34 s single-task vs ~1 s spread).
    ``explode_outer`` infers no filter; the explicit isNotNull below
    applies to the GENERATED column, which cannot be pushed under the
    Generate, so the expensive expression runs exactly once, post-
    shuffle."""
    return (
        grams.select(*cols, F.explode_outer("gs").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


# Bloom geometry: m = 2^20 bits packed 63 per long (16,645 longs =
# 130 KB broadcast), k = 5 probes per gram. At the fixture's eval-gram
# cardinality (~10^4) the fill ratio is < 5%, giving a false-positive
# rate well under 1e-5; at 100 TB you grow m, not the plan. 63 bits per
# block (not 64) keeps every shift amount ≤ 62, so `1 << bit` never
# overflows a signed long — which lets the DuckDB oracle build the SAME
# bloom (DuckDB raises on 1::BIGINT << 63) and keeps all block values
# non-negative in both engines.
_BLOOM_BITS = 1 << 20
_BLOOM_WORD = 63
_BLOOM_BLOCKS = (_BLOOM_BITS + _BLOOM_WORD - 1) // _BLOOM_WORD
_BLOOM_K = 5


# k bit positions via Kirsch–Mitzenmacher double hashing,
# pos_i = (h1 + i*h2) mod m, with both hashes pre-reduced mod m so the
# arithmetic stays far from long overflow (ANSI-mode safe). SQL text
# because the probe needs shiftleft by an *expression*, which the classic
# pyspark ``F.shiftleft`` (int-only shift) can't build. The two base
# hashes are hoisted into h1/h2 COLUMNS before the per-probe expressions
# run — inside a lambda Catalyst cannot common-subexpression-eliminate,
# so inlining the base hash would evaluate it 2k times per gram instead
# of 2. The hash basis is the engine-portable md5 pair (portable_hash.py)
# so the DuckDB oracle reproduces the filter bit-for-bit.
_BLOOM_H1_SQL = (
    f"pmod(cast(conv(substring(md5({{gram}}), 1, 15), 16, 10) as bigint),"
    f" {_BLOOM_BITS})"
)
_BLOOM_H2_SQL = (
    f"pmod(cast(conv(substring(md5({{gram}}), 17, 15), 16, 10) as bigint),"
    f" {_BLOOM_BITS})"
)

# Positions from the hoisted h1/h2 columns.
_BLOOM_POS_SQL = (
    f"transform(sequence(0, {_BLOOM_K - 1}), i -> "
    f"pmod(h1 + i * h2, {_BLOOM_BITS}))"
)

# True iff every probed bit of the broadcast `bloom` array is set.
_BLOOM_HIT_SQL = (
    f"aggregate({_BLOOM_POS_SQL}, true, (acc, pos) -> "
    f"acc AND (element_at(bloom, CAST(pos DIV {_BLOOM_WORD} AS INT) + 1)"
    f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {_BLOOM_WORD}) AS INT)))"
    " != 0)"
)


def _bloom_oracle() -> str:
    """DuckDB oracle rebuilding the identical bloom filter (same portable
    double hashing, same 63-bit blocks) and probing every train gram —
    false positives and all, bit-for-bit."""
    m, w, k = _BLOOM_BITS, _BLOOM_WORD, _BLOOM_K
    h1 = f"('0x' || substr(md5(gram), 1, 15))::BIGINT % {m}"
    h2 = f"('0x' || substr(md5(gram), 17, 15))::BIGINT % {m}"
    ks = ",".join(f"({i})" for i in range(k))
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(t) - 4),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4]
                   )) AS gs
            FROM toks
        ),
        eg AS (
            SELECT DISTINCT UNNEST(gs) AS gram FROM grams WHERE doc_id % 50 = 0
        ),
        epos AS (
            SELECT ({h1} + kk.i * ({h2})) % {m} AS pos
            FROM eg CROSS JOIN (VALUES {ks}) kk(i)
        ),
        bloom AS (
            SELECT pos // {w} AS block, bit_or(1::BIGINT << (pos % {w})) AS bits
            FROM epos GROUP BY pos // {w}
        ),
        tg AS (
            SELECT doc_id, UNNEST(gs) AS gram FROM grams WHERE doc_id % 50 != 0
        ),
        tpos AS (
            SELECT doc_id, gram, ({h1} + kk.i * ({h2})) % {m} AS pos
            FROM tg CROSS JOIN (VALUES {ks}) kk(i)
        ),
        probe AS (
            SELECT doc_id, gram,
                   BOOL_AND(COALESCE((b.bits >> (tpos.pos % {w})) & 1, 0) = 1)
                       AS hit
            FROM tpos LEFT JOIN bloom b ON b.block = tpos.pos // {w}
            GROUP BY doc_id, gram
        ),
        flagged AS (
            SELECT doc_id, COUNT(*) FILTER (WHERE hit) AS n_flagged_grams
            FROM probe GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(f.n_flagged_grams, 0)::BIGINT AS n_flagged_grams,
               COALESCE(f.n_flagged_grams, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) d
        LEFT JOIN flagged f USING (doc_id)
    """


def _with_bloom_hashes(df: DataFrame) -> DataFrame:
    """Attach the two pre-reduced bloom base hashes as columns."""
    return df.withColumns(
        {
            "h1": F.expr(_BLOOM_H1_SQL.format(gram="gram")),
            "h2": F.expr(_BLOOM_H2_SQL.format(gram="gram")),
        }
    )


@register(
    "llm_contamination_bloom",
    "K",
    oracle=_bloom_oracle(),
    doc=(
        "Bloom-filter contamination check — the 100 TB form of "
        "llm_contamination (whose docstring promises exactly this plan "
        "swap). Eval-side distinct 5-grams hash into a 2^20-bit bloom "
        "(portable md5 double hashing, k=5), OR-aggregated into 63-bit "
        "blocks (~16.6 K rows), densified on the driver (130 KB — "
        "dimension-bounded like PCA), and broadcast. The train side "
        "probes all k bits with pure codegen array/bit expressions — no "
        "UDF, no shuffle beyond the per-doc count. The portable hash "
        "basis lets the DuckDB oracle rebuild the identical filter, so "
        "the probabilistic output — false positives included — is "
        "hash-verified (oracle-tier); tests additionally assert the "
        "exact-operator hits are a SUBSET (no false negatives) and bound "
        "the FP count."
    ),
)
def llm_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _five_grams(load(spark, sf_dir, "documents"))
    eval_grams = _explode_grams(grams.filter(F.col("doc_id") % 50 == 0)).distinct()
    # Build: gram → k positions → (block, bit) → bit_or per block.
    blocks = (
        _with_bloom_hashes(eval_grams)
        .select(F.explode(F.expr(_BLOOM_POS_SQL)).alias("pos"))
        .select(
            F.expr(f"CAST(pos DIV {_BLOOM_WORD} AS INT)").alias("block"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {_BLOOM_WORD}) AS INT))"
            ).alias("bits"),
        )
        .groupBy("block")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    )
    dense = [0] * _BLOOM_BLOCKS
    for r in blocks:
        dense[r["block"]] = r["bits"]
    # One row carrying the 16K-word filter, as a LocalTableScan: the
    # broadcast needs no parallelize job.
    bloom = local_frame(spark, [(dense,)], "bloom array<long>")

    # Probe: a gram hits iff all k probed bits are set.
    hit = F.expr(_BLOOM_HIT_SQL)
    train_grams = _with_bloom_hashes(
        _explode_grams(grams.filter(F.col("doc_id") % 50 != 0), "doc_id")
    )
    flagged = (
        train_grams.crossJoin(F.broadcast(bloom))
        .select("doc_id", hit.alias("hit"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("hit").cast("long")).alias("n_flagged_grams"))
    )
    train_docs = grams.filter(F.col("doc_id") % 50 != 0).select("doc_id")
    return train_docs.join(flagged, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_flagged_grams", F.lit(0)).cast("long").alias("n_flagged_grams"),
        (F.coalesce("n_flagged_grams", F.lit(0)) > 0).alias("contaminated"),
    )


@register(
    "llm_corpus_mix",
    "K",
    oracle=f"""
        WITH per_lang AS (
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(len({SQL_TOKENS.format(col='text')})) AS BIGINT)
                       AS n_tokens
            FROM documents
            GROUP BY lang
        )
        SELECT lang, n_docs, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE)
                     / SUM(n_tokens) OVER (), 6) AS token_share,
               ROUND((1.0 / COUNT(*) OVER ())
                     / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 6)
                   AS uniform_weight
        FROM per_lang
    """,
    doc=(
        "Corpus mixing table: per-language token counts, share of the "
        "corpus, and the resampling weight that would equalize languages "
        "(target uniform mix). Integer token sums are exact; shares are "
        "terminal-rounded. The pattern generalizes to any domain-mixing "
        "policy - one groupBy plus a tiny window over the group table."
    ),
)
def llm_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(t).cast("long")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    return per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((F.lit(1.0) / F.count(F.lit(1)).over(w)) / share, 6).alias(
            "uniform_weight"
        ),
    )


@register(
    "llm_shard_assign",
    "K",
    oracle=f"""
        WITH assigned AS (
            SELECT SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   len({SQL_TOKENS.format(col='text')}) AS n_tok
            FROM documents
        )
        SELECT shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        FROM assigned
        GROUP BY shard
    """,
    doc=(
        "Deterministic training-shard routing: each document hashes to one "
        "of 16 shards via its md5 first hex digit - stable across engines, "
        "reruns, and cluster sizes (unlike hash()/xxhash64, whose seeds "
        "are engine-specific). Output is the shard load table used to "
        "verify balance before a training run; at 100 TB the same "
        "expression becomes the partitionBy key for the shard writer."
    ),
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    assigned = d.select(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.size(t).cast("long").alias("n_tok"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


@register(
    "llm_quality_classifier",
    "K",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   CAST(len({SQL_TOKENS.format(col='text')}) AS DOUBLE) AS n_tok,
                   CAST(len(list_distinct({SQL_TOKENS.format(col='text')})) AS DOUBLE)
                       / len({SQL_TOKENS.format(col='text')}) AS lex_div,
                   CAST(n_chars AS DOUBLE)
                       / len({SQL_TOKENS.format(col='text')}) AS avg_tok_len
            FROM documents
        )
        SELECT doc_id,
               ROUND(1.0 / (1.0 + EXP(-(
                   -2.0 + 0.35 * LN(n_tok) + 2.5 * lex_div
                   + 0.15 * avg_tok_len))), 6) AS quality_score,
               (1.0 / (1.0 + EXP(-(
                   -2.0 + 0.35 * LN(n_tok) + 2.5 * lex_div
                   + 0.15 * avg_tok_len)))) >= 0.5 AS keep
        FROM feats
    """,
    doc=(
        "Model-scoring pattern: a fixed-weight logistic quality classifier "
        "(the fasttext-quality-filter shape) over cheap text features - "
        "log length, lexical diversity, mean token length. Pure codegen "
        "math, map-only, no Python on the data path; swapping in trained "
        "weights (or a Pandas-UDF ONNX scorer) changes only the scoring "
        "expression. Score terminal-rounded; the keep gate mirrors the "
        "corpus-cleaning decision boundary."
    ),
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    feats = d.select(
        "doc_id",
        F.size(t).cast("double").alias("n_tok"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("lex_div"),
        (F.col("n_chars").cast("double") / F.size(t)).alias("avg_tok_len"),
    )
    z = (
        F.lit(-2.0)
        + F.lit(0.35) * F.log(F.col("n_tok"))
        + F.lit(2.5) * F.col("lex_div")
        + F.lit(0.15) * F.col("avg_tok_len")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "llm_text_normalize",
    "K",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                   '\\s+', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                   '\\s+', ' ', 'g'))) AS INT) AS n_norm_chars
        FROM documents
    """,
    doc=(
        "Canonical text normalization for dedup/tokenizer front-ends: "
        "lowercase, strip non-alphanumerics, collapse whitespace runs, "
        "trim. Pure codegen regexp_replace chain — map-only, no shuffle, "
        "embarrassingly parallel at 100 TB (this exact pass typically "
        "precedes content-hash dedup so byte-identical-after-normalize "
        "docs collide)."
    ),
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_norm_chars"),
    )


@register(
    "llm_text_unigram_lm",
    "K",
    oracle=f"""
        WITH occ AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY tok
        ),
        n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab)
        SELECT o.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(v.cnt) AS BIGINT) AS sum_freq,
               ROUND(CAST(SUM(v.cnt) AS DOUBLE) / (COUNT(*) * ANY_VALUE(n.total)), 9)
                   AS mean_token_prob
        FROM occ o JOIN vocab v USING (tok), n
        GROUP BY o.doc_id
    """,
    doc=(
        "Unigram language-model commonness score: each document's mean "
        "corpus-frequency of its tokens — the cheap LM-quality signal "
        "(low = rare-token gibberish, high = boilerplate). All-integer "
        "accumulation (token counts summed as BIGINT) with ONE terminal "
        "double division, so the hash is partition-order invariant — no "
        "float-sum nondeterminism. Scale: vocabulary aggregate + "
        "broadcast vocab join + per-doc integer agg; the vocab table is "
        "Zipf-bounded (≪ corpus), the per-doc agg combines map-side."
    ),
)
def llm_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Single tokenize+explode pass → tf per (doc, tok); vocabulary counts,
    # the corpus total, and the per-doc sums all derive from tf (the same
    # one-materialization discipline as llm_text_tfidf) — the exploded
    # corpus is shuffled once and the exchange is runtime-reused, instead
    # of re-tokenizing the corpus per branch.
    occ = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    per_doc = (
        tf.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(F.col("tf") * F.col("cnt")).alias("sum_freq"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tok",
        "sum_freq",
        F.round(
            F.col("sum_freq") / (F.col("n_tok") * F.col("total")), 9
        ).alias("mean_token_prob"),
    )


@register(
    "llm_decontaminate",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(t) - 4),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            || ' ' || t[i+3] || ' ' || t[i+4])) AS gs
            FROM toks
        ),
        eval_grams AS (
            SELECT DISTINCT UNNEST(gs) AS gram FROM grams WHERE doc_id % 50 = 0
        ),
        dirty AS (
            SELECT DISTINCT tg.doc_id
            FROM (SELECT doc_id, UNNEST(gs) AS gram FROM grams
                  WHERE doc_id % 50 <> 0) tg
            JOIN eval_grams eg ON tg.gram = eg.gram
        )
        SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
        FROM documents d
        WHERE d.doc_id % 50 <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
    doc=(
        "Decontamination filter — the ACTION its sibling check "
        "(llm_contamination) informs: emit the training corpus with every "
        "document sharing any 5-gram with the held-out eval split removed "
        "(left_anti join against the contaminated id set). Same broadcast "
        "gram-set plan plus one anti-join on doc_id; at 100 TB this runs "
        "as the final gate before shard writing."
    ),
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    grams = _five_grams(d)
    eval_grams = _explode_grams(grams.filter(F.col("doc_id") % 50 == 0)).distinct()
    dirty = (
        _explode_grams(grams.filter(F.col("doc_id") % 50 != 0), "doc_id")
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.col("doc_id") % 50 != 0)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars"))
    )


@register(
    "llm_corpus_temperature",
    "K",
    oracle=f"""
        WITH per_lang AS (
            SELECT lang,
                   CAST(SUM(len({SQL_TOKENS.format(col='text')})) AS BIGINT)
                       AS n_tokens
            FROM documents
            GROUP BY lang
        ),
        shares AS (
            SELECT lang, n_tokens,
                   CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share
            FROM per_lang
        )
        SELECT lang, n_tokens,
               ROUND(share, 6) AS token_share,
               ROUND(POW(share, 0.7) / SUM(POW(share, 0.7)) OVER (), 6)
                   AS sample_prob,
               ROUND((POW(share, 0.7) / SUM(POW(share, 0.7)) OVER ()) / share,
                     6) AS resample_weight
        FROM shares
    """,
    doc=(
        "Temperature-based corpus mixing (the multilingual-LM recipe: "
        "sampling probability ∝ share^α, here α = 0.7 — up-weights tail "
        "languages without flattening to uniform). Exact integer token "
        "sums; one groupBy plus a window over the O(languages) group "
        "table; per-document weights then join back broadcast. "
        "Generalizes llm_corpus_mix's uniform target to any exponent."
    ),
)
def llm_corpus_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_lang = (
        spread(d, "doc_id")
        .select("lang", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    )
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    shares = per_lang.select("lang", "n_tokens", share.alias("share"))
    powed = F.pow(F.col("share"), 0.7)
    prob = powed / F.sum(powed).over(w)
    return shares.select(
        "lang",
        "n_tokens",
        F.round("share", 6).alias("token_share"),
        F.round(prob, 6).alias("sample_prob"),
        F.round(prob / F.col("share"), 6).alias("resample_weight"),
    )


@register(
    "llm_eval_split",
    "K",
    oracle="""
        WITH tagged AS (
            SELECT lang,
                   CASE WHEN CAST(('0x' || substr(md5(text), 1, 2)) AS INT) < 250
                        THEN 'train'
                        WHEN CAST(('0x' || substr(md5(text), 1, 2)) AS INT) < 253
                        THEN 'val' ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, lang, COUNT(*) AS n_docs
        FROM tagged
        GROUP BY split, lang
        ORDER BY split, lang
    """,
    doc=(
        "Deterministic train/val/test split: the first md5 byte of the "
        "CONTENT routes each document (~97.7/1.2/1.2) — content-hashed, "
        "not id-hashed, so exact duplicates land in the same split and "
        "can never leak train→test; stable across engines, reruns, and "
        "partitionings (md5 is bit-identical in Spark and DuckDB, which "
        "the hash compare proves). Map-only tag + one small groupBy."
    ),
)
def llm_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("int")
    split = (
        F.when(bucket < 250, F.lit("train"))
        .when(bucket < 253, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


@register(
    "llm_bpe_pairs",
    "K",
    oracle="""
        WITH words AS (
            SELECT tok AS w, COUNT(*) AS freq
            FROM (
                SELECT UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
                FROM documents
            )
            WHERE tok <> ''
            GROUP BY tok
        ),
        pairs AS (
            SELECT substr(w.w, gs.i, 2) AS pair, SUM(w.freq) AS pair_count
            FROM words w, LATERAL (
                SELECT UNNEST(generate_series(1, length(w.w) - 1)) AS i
            ) gs
            GROUP BY substr(w.w, gs.i, 2)
        )
        SELECT pair, CAST(pair_count AS BIGINT) AS pair_count
        FROM pairs
        QUALIFY ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair ASC) <= 50
    """,
    doc=(
        "BPE tokenizer-training core step: corpus-wide adjacent-symbol "
        "pair counts. The distributed shape every BPE trainer needs at "
        "100 TB: tokenize → word-frequency table (the corpus collapses "
        "to its vocabulary — Heaps' law makes this table tiny relative "
        "to the corpus) → per-word adjacent character pairs weighted by "
        "word frequency → top-50 merge candidates with a deterministic "
        "(count DESC, pair ASC) tiebreak via TakeOrderedAndProject (no "
        "single-partition window). One full-corpus pass; each further "
        "BPE merge iteration would rerun only the tiny vocabulary "
        "table. Integer counts — partition-order exact, hash-verified."
    ),
)
def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    words = toks.groupBy(F.col("tok").alias("w")).agg(
        F.count(F.lit(1)).alias("freq")
    )
    pair_arr = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select(F.explode_outer(pair_arr).alias("pair"), "freq")
        .filter(F.col("pair").isNotNull())
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(50)
    )


@register(
    "llm_text_perplexity",
    "K",
    oracle=f"""
        WITH occ AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
            FROM occ GROUP BY doc_id, tok
        ),
        vocab AS (
            SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok
        ),
        n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab)
        SELECT t.doc_id,
               CAST(SUM(t.tf) AS BIGINT) AS n_tok,
               CAST(SUM(CAST(ROUND(t.tf * ln(CAST(n.total AS DOUBLE) / v.cnt), 6)
                             AS DECIMAL(28,6))) AS DOUBLE) AS nll_sum,
               ROUND(CAST(SUM(CAST(ROUND(t.tf * ln(CAST(n.total AS DOUBLE) / v.cnt), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE) / SUM(t.tf), 6)
                   AS avg_nll
        FROM tf t JOIN vocab v USING (tok), n
        GROUP BY t.doc_id
    """,
    doc=(
        "Unigram cross-entropy (negative log-likelihood) per document "
        "under the corpus's own unigram LM — the standard perplexity-"
        "style quality filter (high avg NLL = rare-token gibberish; "
        "llm_text_unigram_lm is the linear-probability sibling). Each "
        "(doc, token) contribution tf·ln(total/cnt) is rounded to 6 "
        "digits and accumulated as DECIMAL(28,6) — an EXACT integer sum, "
        "so the per-doc total is partition-order invariant despite being "
        "a float-derived quantity (float SUM order would differ between "
        "runs/engines; the decimal quantization removes that). Scale: "
        "one tokenize+explode pass → (doc,tok) tf; Zipf-bounded vocab "
        "aggregate broadcast back; per-doc hash agg with map-side "
        "combine. Linear, two shuffles."
    ),
)
def llm_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    occ = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    contrib = (
        tf.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("total").cast("double") / F.col("cnt")), 6
            )
            .cast("decimal(28,6)")
            .alias("nll"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tok"),
        F.sum("nll").cast("double").alias("nll_sum"),
        F.round(F.sum("nll").cast("double") / F.sum("tf"), 6).alias("avg_nll"),
    )


@register(
    "llm_text_readability",
    "K",
    oracle=f"""
        WITH counts AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[.!?]+'))
                        AS BIGINT) AS n_sentences,
                   CAST(len(list_filter({SQL_TOKENS.format(col='text')},
                                        t -> t <> ''))
                        AS BIGINT) AS n_words,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS BIGINT) AS n_syllable_groups
            FROM documents
        )
        SELECT doc_id, n_sentences, n_words, n_syllable_groups,
               ROUND(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / GREATEST(n_sentences, 1))
                     - 84.6 * (CAST(n_syllable_groups AS DOUBLE) / n_words),
                     6) AS flesch_score
        FROM counts
        WHERE n_words > 0
        ORDER BY doc_id
    """,
    doc=(
        "Flesch-style readability scoring per document — the classic "
        "prose-complexity quality filter (syllables approximated as "
        "vowel-group runs, the standard regex surrogate; sentences as "
        "terminal-punctuation runs, floored at 1 so headline-only docs "
        "stay defined). Joins llm_text_quality's surface heuristics "
        "with a graded score a corpus-mix policy can threshold on. "
        "All three counts are regexp_count/size over the canonical "
        "tokenizer — map-only codegen, no shuffle, no UDF; the score "
        "is one double expression over three INTEGERS rounded once, so "
        "it is bit-identical cross-engine and partition-invariant by "
        "construction."
    ),
)
def llm_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = spread(d, "doc_id").select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[.!?]+")).cast("bigint").alias(
            "n_sentences"
        ),
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).cast(
            "bigint"
        ).alias("n_words"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast(
            "bigint"
        ).alias("n_syllable_groups"),
    )
    return counts.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllable_groups",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (
                F.col("n_words").cast("double")
                / F.greatest(F.col("n_sentences"), F.lit(1))
            )
            - F.lit(84.6)
            * (F.col("n_syllable_groups").cast("double") / F.col("n_words")),
            6,
        ).alias("flesch_score"),
    )


@register(
    "llm_dataset_card",
    "K",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, lang, source, text,
                   len(list_filter({SQL_TOKENS.format(col='text')},
                                   t -> t <> '')) AS n_tok
            FROM documents
        ),
        dups AS (
            SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS c
            FROM base GROUP BY md5(text)
        ),
        dupstats AS (
            SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_dup_docs
            FROM dups WHERE c > 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT b.source) AS BIGINT) AS n_sources,
               CAST(SUM(b.n_tok) AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(b.n_tok) AS DOUBLE) / COUNT(*), 6)
                   AS avg_doc_tokens,
               ANY_VALUE(d.n_dup_docs) AS n_exact_dup_docs,
               ROUND(CAST(ANY_VALUE(d.n_dup_docs) AS DOUBLE) / COUNT(*), 6)
                   AS exact_dup_rate,
               ROUND(CAST(SUM(CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS pct_english
        FROM base b CROSS JOIN dupstats d
    """,
    doc=(
        "One-row dataset card for the document corpus — the summary "
        "block a training-data release publishes: document/language/"
        "source counts, whitespace-token volume, exact-duplicate count "
        "and rate (docs beyond the first per identical content hash — "
        "llm_dedup_exact's statistic collapsed to a scalar), and the "
        "English share. One scan feeds a global multi-distinct "
        "aggregate plus a content-md5 duplicate roll-up whose 1-row "
        "result rides back on a broadcast scalar crossJoin (the "
        "tpch_q11 pattern). Every metric is an integer or one terminal "
        "division rounded once — deterministic by construction. At "
        "100 TB: the md5 groupBy is llm_dedup_exact's linear shuffle; "
        "the distincts expand to 3 copies of the (tiny) lang/source "
        "columns, and approx_count_distinct is the documented swap if "
        "those ever grow."
    ),
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select(
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias(
            "n_tok"
        ),
    )
    dupstats = (
        base.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_docs")
        )
    )
    card = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.sum("n_tok").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_doc_tokens"
        ),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("pct_english"),
    )
    return card.crossJoin(F.broadcast(dupstats)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_tokens",
        "avg_doc_tokens",
        "n_exact_dup_docs",
        F.round(
            F.col("n_exact_dup_docs").cast("double") / F.col("n_docs"), 6
        ).alias("exact_dup_rate"),
        "pct_english",
    )


@register(
    "llm_tokenizer_fertility",
    "K",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({SQL_TOKENS.format(col='text')})) AS BIGINT)
                   AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]|[^a-z0-9 ]'))) AS BIGINT) AS bpe_ish_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               ROUND(CAST(SUM(len(regexp_extract_all(lower(text),
                         '[a-z]+|[0-9]|[^a-z0-9 ]'))) AS DOUBLE)
                     / SUM(len({SQL_TOKENS.format(col='text')})), 6)
                   AS fertility,
               ROUND(CAST(SUM(n_chars) AS DOUBLE)
                     / SUM(len(regexp_extract_all(lower(text),
                           '[a-z]+|[0-9]|[^a-z0-9 ]'))), 6)
                   AS chars_per_token
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc=(
        "Tokenizer fertility by language: BPE-ish tokens per whitespace "
        "word and characters per token, micro-averaged per lang — the "
        "metric that tells a multilingual-pretraining team which "
        "languages their tokenizer fragments (fertility >> 1 means the "
        "token budget over-charges that language). Uses the same two "
        "counters as llm_text_tokencount but aggregated: both token "
        "counts accumulate as EXACT integer sums per language (never a "
        "per-doc float ratio averaged — micro-average = one division "
        "over exact sums, so no float-summation order exists at all). "
        "Map-side partial aggregation applies (5 langs); linear, one "
        "tiny shuffle, CPU spread via sources/io.py::spread."
    ),
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    ws = F.size(tokens(F.col("text")))
    bpe = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), 0)
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_ish_tokens"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_ish_tokens",
            "chars",
            F.round(
                F.col("bpe_ish_tokens").cast("double") / F.col("ws_tokens"), 6
            ).alias("fertility"),
            F.round(
                F.col("chars").cast("double") / F.col("bpe_ish_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@register(
    "llm_span_corruption",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS t FROM documents
        ),
        marks AS (
            SELECT doc_id, len(t) AS n,
                   list_transform(generate_series(1, len(t)), i ->
                       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                  || ':' || CAST(i AS VARCHAR)), 1, 2))::BIGINT
                                  % 100 < 15
                            THEN 1 ELSE 0 END) AS m
            FROM toks
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(list_aggregate(m, 'sum') AS BIGINT) AS n_masked,
               CAST(len(list_filter(generate_series(1, n), i ->
                        m[i] = 1 AND (i = 1 OR m[i - 1] = 0))) AS BIGINT)
                   AS n_spans,
               ROUND(CAST(list_aggregate(m, 'sum') AS DOUBLE) / n, 6)
                   AS mask_rate
        FROM marks
    """,
    doc=(
        "T5-style span-corruption PLANNING: ~15% of each document's "
        "token positions are marked for masking by a DETERMINISTIC "
        "content hash (md5 of doc_id:position — reproducible across "
        "retries and engines, where a real pipeline would use a seeded "
        "RNG), and contiguous masked runs collapse into sentinel spans. "
        "Reports tokens / masked / span count / mask rate per document "
        "— the statistics that size the denoising objective's "
        "inputs-vs-targets split. Pure codegen array expressions "
        "(transform + filter over a position sequence), map-only, no "
        "shuffle; linear at any scale. Hash-position masking is the "
        "standard trick for making data-noising reproducible."
    ),
)
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    t = tokens(F.col("text"))
    n = F.size(t)

    def masked(i):
        h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")))
        return F.when(
            F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") % 100 < 15, 1
        ).otherwise(0)

    base = d.select("doc_id", n.alias("n"))
    m = F.transform(F.sequence(F.lit(1), F.col("n")), masked)
    withm = base.withColumn("m", m)
    n_masked = F.aggregate(
        F.col("m"), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    starts = F.size(
        F.filter(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: (F.element_at(F.col("m"), i) == 1)
            & ((i == 1) | (F.element_at(F.col("m"), i - 1) == 0)),
        )
    )
    return withm.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        n_masked.alias("n_masked"),
        starts.cast("bigint").alias("n_spans"),
        F.round(n_masked.cast("double") / F.col("n"), 6).alias("mask_rate"),
    )


# Fixed demo blocklist (fixture-vocabulary terms so every tier of the
# decision logic is exercised at any sf; a production list is a config).
BLOCKLIST = ("slow", "dup", "merge")


@register(
    "llm_blocklist_filter",
    "K",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id,
                   len(list_filter(tok, x -> x IN ('slow', 'dup', 'merge')))
                       AS n_hits,
                   COALESCE(array_to_string(
                       list_sort(list_distinct(
                           list_filter(tok, x -> x IN ('slow', 'dup', 'merge'))
                       )), ','), '') AS hit_terms
            FROM t
        )
        SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
               hit_terms,
               CASE WHEN n_hits = 0 THEN 'keep'
                    WHEN n_hits <= 2 THEN 'review'
                    ELSE 'drop' END AS action
        FROM hits
    """,
    doc=(
        "BLOCKLIST content filter — the term-matching tier of a safety/"
        "compliance pipeline (runs beside the statistical "
        "llm_quality_classifier: lists catch what scores cannot, and "
        "vice versa): per doc the blocklist hit count, the sorted "
        "distinct hit terms, and a keep/review/drop action with the "
        "review band a human-in-the-loop queue consumes. The blocklist "
        "compiles to a codegen array predicate over the canonical "
        "tokenizer — map-only, no join (a 10^6-term production list "
        "would broadcast-join token hashes instead; same output "
        "contract). Exact counts, no floats."
    ),
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    bl = F.array(*[F.lit(t) for t in BLOCKLIST])
    hits = F.filter(tok, lambda x: F.array_contains(bl, x))
    return (
        spread(d, "doc_id")
        .select("doc_id", hits.alias("h"))
        .select(
            "doc_id",
            F.size("h").cast("bigint").alias("n_hits"),
            F.concat_ws(",", F.sort_array(F.array_distinct(F.col("h")))).alias(
                "hit_terms"
            ),
            F.when(F.size("h") == 0, F.lit("keep"))
            .when(F.size("h") <= 2, F.lit("review"))
            .otherwise(F.lit("drop"))
            .alias("action"),
        )
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "llm_quality_gopher",
    "K",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(tok) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(tok, x -> len(x))) AS BIGINT)
                       AS n_chars,
                   CAST(len(list_filter(tok,
                       x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
                       AS alpha_words,
                   CAST(len(list_filter(
                       ['the','be','to','of','and','that','have','with'],
                       w -> list_contains(tok, w))) AS BIGINT) AS n_stopwords
            FROM t
        )
        SELECT doc_id, n_words,
               ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS mean_word_len,
               ROUND(CAST(alpha_words AS DOUBLE) / n_words, 6) AS alpha_frac,
               n_stopwords,
               CAST(CASE WHEN n_words >= 50 THEN 1 ELSE 0 END AS INT) AS ok_length,
               CAST(CASE WHEN n_chars >= 3 * n_words
                          AND n_chars <= 10 * n_words THEN 1 ELSE 0 END AS INT)
                   AS ok_word_len,
               CAST(CASE WHEN 10 * alpha_words >= 8 * n_words THEN 1 ELSE 0 END
                    AS INT) AS ok_alpha,
               CAST(CASE WHEN n_stopwords >= 2 THEN 1 ELSE 0 END AS INT)
                   AS ok_stop,
               CAST(CASE WHEN n_words >= 50
                          AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
                          AND 10 * alpha_words >= 8 * n_words
                          AND n_stopwords >= 2 THEN 1 ELSE 0 END AS INT)
                   AS passes_gopher
        FROM s
    """,
    doc=(
        "GOPHER QUALITY RULES (Rae et al. 2021, 'Scaling Language "
        "Models: ... Gopher', App. A — the published heuristic filter "
        "most open-data pipelines re-implement): per doc, word count >= "
        "50, mean word length in [3,10], >= 80% of words contain an "
        "alphabetic character, and >= 2 distinct required stop words "
        "present. Complements llm_text_quality (generic score) and "
        "llm_blocklist_filter (term lists) with the named, citable rule "
        "set. ALL thresholds are integer cross-multiplications "
        "(3n <= chars <= 10n; 10·alpha >= 8n) — no float compare at a "
        "rule boundary can wobble between engines; the two reported "
        "ratios are display-only ROUND(...,6) projections. Map-only "
        "plan: one tokenize pass, codegen array aggregates, no shuffle "
        "at all — the 100 TB cost is exactly one scan."
    ),
)
def llm_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    base = spread(d, "doc_id").select(
        "doc_id",
        F.size(tok).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(tok, F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
        F.size(F.filter(tok, lambda x: x.rlike("[a-z]")))
        .cast("bigint")
        .alias("alpha_words"),
        F.size(
            F.filter(
                F.array(*[F.lit(w) for w in _GOPHER_STOPS]),
                lambda w: F.array_contains(tok, w),
            )
        )
        .cast("bigint")
        .alias("n_stopwords"),
    )
    i = lambda c: c.cast("int")
    ok_len = F.col("n_words") >= 50
    ok_wl = (F.col("n_chars") >= 3 * F.col("n_words")) & (
        F.col("n_chars") <= 10 * F.col("n_words")
    )
    ok_al = 10 * F.col("alpha_words") >= 8 * F.col("n_words")
    ok_st = F.col("n_stopwords") >= 2
    return base.select(
        "doc_id",
        "n_words",
        F.round(F.col("n_chars").cast("double") / F.col("n_words"), 6).alias(
            "mean_word_len"
        ),
        F.round(
            F.col("alpha_words").cast("double") / F.col("n_words"), 6
        ).alias("alpha_frac"),
        "n_stopwords",
        i(ok_len).alias("ok_length"),
        i(ok_wl).alias("ok_word_len"),
        i(ok_al).alias("ok_alpha"),
        i(ok_st).alias("ok_stop"),
        i(ok_len & ok_wl & ok_al & ok_st).alias("passes_gopher"),
    )
