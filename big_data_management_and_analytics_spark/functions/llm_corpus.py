"""Category K (corpus) — corpus-level curation operators a training-data
pipeline needs beyond per-document scoring: exact substring-span dedup,
inverted-index construction, PII redaction, and BPE tokenizer training /
application (SURVEY.md §2.K extras; task-mandated LLM-pipeline family).

All oracle-tier: each operator's DuckDB twin replays the identical
tokenizer (functions/strings.py) and the identical portable md5 hash
basis (functions/portable_hash.py), so outputs hash-match cross-engine.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.functions.portable_hash import ph0
from big_data_management_and_analytics_spark.functions.strings import SQL_TOKENS, tokens
from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    checkpoint,
    load,
    spread,
)

# Token k-gram width for exact substring-span dedup. Real pipelines use
# 50 BPE tokens (Lee et al., "Deduplicating Training Data Makes Language
# Models Better"); the fixture docs are ~30 tokens, so k=8 keeps the
# gram space populated at every sf.
K_SUB = 8

SQL_PH0 = "('0x' || substr(md5({col}), 1, 15))::BIGINT"


@register(
    "llm_dedup_substring",
    "K",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok FROM documents
        ),
        g AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       generate_series(1, len(tok) - {K_SUB - 1}),
                       i -> {SQL_PH0.format(
                           col=f"array_to_string(list_slice(tok, i, i + {K_SUB - 1}), ' ')"
                       )}
                   )) AS h
            FROM t
            WHERE len(tok) >= {K_SUB}
        ),
        shared AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
        dups AS (
            SELECT doc_id, COUNT(*) AS dup_grams
            FROM g SEMI JOIN shared USING (h)
            GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_grams, d.dup_grams,
               ROUND(CAST(d.dup_grams AS DOUBLE) / t.n_grams, 6) AS dup_frac
        FROM totals t JOIN dups d ON t.doc_id = d.doc_id
    """,
    doc=(
        "Exact substring-span dedup (the Lee-et-al. exact-substring "
        "criterion at token-k-gram granularity): a position is duplicated "
        "iff its k-gram occurs in >= 2 distinct documents. Per-position "
        "sliding k-grams reduce to one portable 60-bit md5 hash each, so "
        "the shuffle carries 8 bytes per position, never the gram text — "
        "the 100 TB form of suffix-array dedup's 'is this span repeated' "
        "query. Shape: explode grams -> hash -> groupBy(h) distinct-doc "
        "count (map-side partial agg) -> semi-join back -> per-doc "
        "fraction. Linear in corpus positions; no pair space."
    ),
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    # Total expression (empty array below k tokens) — a filter would be
    # substituted below the spread() exchange, re-tokenizing in the
    # single scan task (same trap documented at llm_dedup_shingle).
    gram_hashes = F.when(
        F.size(tok) >= K_SUB,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (K_SUB - 1)),
            lambda i: ph0(F.concat_ws(" ", F.slice(tok, i, K_SUB))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    g = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(gram_hashes).alias("h"))
        .filter(F.col("h").isNotNull())
    )
    # Pre-aggregate to distinct (doc_id, h) occurrence counts: downstream
    # shuffles move this much smaller relation, and the algorithm's two
    # passes over it (find shared hashes; flag + per-doc count) are the
    # natural minimum — totals and dup counts come out of ONE aggregation
    # via the flag, not separate branches. The shared-hash probe is a
    # hash join (AQE skew-splittable), never a per-hash window, so a
    # boilerplate gram shared by millions of docs cannot pin one task.
    occ = g.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    shared = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))  # occ rows are distinct per doc
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        occ.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("is_dup") == 1, F.col("cnt")).otherwise(0)).alias(
                "dup_grams"
            ),
        )
        .filter(F.col("dup_grams") > 0)
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_frac"),
        )
    )


@register(
    "llm_inverted_index",
    "K",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS term
            FROM documents
        )
        SELECT term,
               COUNT(DISTINCT doc_id) AS df,
               COUNT(*) AS cf,
               STRING_AGG(DISTINCT doc_id, ',' ORDER BY doc_id) AS postings
        FROM t
        WHERE term <> ''
        GROUP BY term
    """,
    doc=(
        "Inverted-index construction: term -> (document frequency, "
        "collection frequency, sorted distinct posting list). One "
        "explode + one hash aggregate — the map-side partial collect_set "
        "keeps the shuffle at |distinct (term, doc)| rows; the posting "
        "list serializes to a joined string (§2.0 amendment 11: raw array "
        "columns are container-unstable across the compare bridge). At "
        "100 TB a "
        "stop-word's posting list exceeds a single struct, so production "
        "shards high-df postings into fixed-size blocks keyed by "
        "(term, block_no) — same plan shape, one extra bucketing key; "
        "the fixture's 31-term vocabulary needs no sharding."
    ),
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    e = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    return e.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("cf"),
        F.concat_ws(",", F.sort_array(F.collect_set("doc_id"))).alias("postings"),
    )


# PII patterns — identical semantics under Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition and \b only; no
# lookaround (RE2 has none), no engine-specific escapes.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
RE_PHONE = r"\b555-[0-9]{4}\b"

# The synthetic fixture has no PII, so the operator first composes a
# deterministic dirty-text column from customer attributes — both
# engines build the identical string, then the redaction chain (the
# thing under test) runs on it.
SQL_DIRTY = (
    "c_name || ' <user' || c_custkey || '@example.com> call 555-' || "
    "lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0') || "
    "' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.' || "
    "CAST(c_custkey * 3 % 256 AS VARCHAR) || ' segment ' || c_mktsegment"
)


@register(
    "llm_pii_redact",
    "K",
    oracle=f"""
        WITH dirty AS (
            SELECT c_custkey, {SQL_DIRTY} AS txt FROM customer
        )
        SELECT c_custkey,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(txt, '{RE_EMAIL}', '[EMAIL]', 'g'),
                       '{RE_IP}', '[IP]', 'g'),
                   '{RE_PHONE}', '[PHONE]', 'g') AS clean,
               len(regexp_extract_all(txt, '{RE_EMAIL}')) AS n_email,
               len(regexp_extract_all(txt, '{RE_IP}')) AS n_ip,
               len(regexp_extract_all(txt, '{RE_PHONE}')) AS n_phone
        FROM dirty
    """,
    doc=(
        "PII redaction: email / IPv4 / phone scrub with per-category "
        "match counts. Map-only regexp_replace chain — whole-stage "
        "codegen, no shuffle, embarrassingly parallel at any scale. "
        "Patterns restricted to the Java-regex ∩ RE2 common subset so "
        "the oracle replays them bit-identically. Email is redacted "
        "before IP so the dotted domain can never be half-eaten by the "
        "IP rule."
    ),
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    dirty = F.concat(
        F.col("c_name"),
        F.lit(" <user"),
        F.col("c_custkey").cast("string"),
        F.lit("@example.com> call 555-"),
        F.lpad(((F.col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("c_custkey") * 3) % 256).cast("string"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    txt = F.col("txt")
    return spread(c, "c_custkey").select(
        "c_custkey", dirty.alias("txt")
    ).select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(txt, RE_EMAIL, "[EMAIL]"), RE_IP, "[IP]"
            ),
            RE_PHONE,
            "[PHONE]",
        ).alias("clean"),
        F.regexp_count(txt, F.lit(RE_EMAIL)).alias("n_email"),
        F.regexp_count(txt, F.lit(RE_IP)).alias("n_ip"),
        F.regexp_count(txt, F.lit(RE_PHONE)).alias("n_phone"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training / application
# ---------------------------------------------------------------------------

# Merge iterations. Real trainers run 30k+; 4 keeps the unrolled oracle
# CTE chain readable while exercising every mechanism (pair counting,
# greedy non-overlapping application, island tie-break for x==y runs).
M_BPE = 4


def _bpe_iter_cte(i: int) -> str:
    """One unrolled BPE merge iteration as DuckDB CTEs (w{i-1} -> w{i}).

    True BPE application semantics — greedy LEFT-TO-RIGHT non-overlapping
    merge of the winning pair — via gaps-and-islands: among match
    positions of a word, consecutive runs (only possible when x == y)
    take every other position starting at the run head.
    """
    p = i - 1
    return f"""
        e{i} AS MATERIALIZED (
            SELECT w, freq, t.pos AS pos, syms[t.pos] AS sym,
                   lead(syms[t.pos]) OVER (PARTITION BY w ORDER BY t.pos) AS nxt
            FROM w{p}, UNNEST(generate_series(1, len(syms))) AS t(pos)
        ),
        m{i} AS MATERIALIZED (
            SELECT sym AS x, nxt AS y, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM e{i} WHERE nxt IS NOT NULL
            GROUP BY sym, nxt
            ORDER BY cnt DESC, x ASC, y ASC
            LIMIT 1
        ),
        mt{i} AS (
            SELECT e.w, e.pos,
                   e.pos - ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY e.pos) AS isl
            FROM e{i} e, m{i} m WHERE e.sym = m.x AND e.nxt = m.y
        ),
        tk{i} AS (
            SELECT w, pos FROM mt{i}
            QUALIFY (pos - MIN(pos) OVER (PARTITION BY w, isl)) % 2 = 0
        ),
        w{i} AS MATERIALIZED (
            SELECT e.w, MAX(e.freq) AS freq,
                   list(CASE WHEN t.pos IS NOT NULL THEN e.sym || e.nxt
                             ELSE e.sym END ORDER BY e.pos)
                       FILTER (WHERE c.pos IS NULL) AS syms
            FROM e{i} e
            LEFT JOIN tk{i} t ON t.w = e.w AND t.pos = e.pos
            LEFT JOIN tk{i} c ON c.w = e.w AND c.pos = e.pos - 1
            GROUP BY e.w
        )"""


def _bpe_cte_prefix() -> str:
    """Shared oracle prefix: vocabulary w0 plus M_BPE unrolled merges."""
    return (
        f"""
        WITH toks AS (
            SELECT UNNEST({SQL_TOKENS.format(col='text')}) AS tok FROM documents
        ),
        w0 AS MATERIALIZED (
            SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS freq,
                   list_transform(generate_series(1, length(tok)), i -> tok[i]) AS syms
            FROM toks WHERE tok <> '' GROUP BY tok
        ),"""
        + ",".join(_bpe_iter_cte(i) for i in range(1, M_BPE + 1))
    )


def _bpe_words0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> (word, freq, char symbols) vocabulary table.

    The Heaps'-law collapse: the only full-corpus pass in BPE training is
    this tokenize + count; every merge iteration after it touches the
    (tiny) vocabulary relation, never the corpus again."""
    d = load(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select(F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    return (
        toks.groupBy(F.col("tok").alias("w"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", chars.alias("syms"))
    )


def _bpe_step(words: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE merge iteration: pick the (freq-weighted) most frequent
    adjacent symbol pair and apply it greedily left-to-right.

    Semantically identical to the oracle's windowed gaps-and-islands
    formulation (_bpe_iter_cte), but the APPLICATION is a pure map-only
    array expression — match positions via a higher-order filter, the
    greedy non-overlapping take via an aggregate() fold (take p iff it
    does not touch the previously taken position), and the rebuild via
    an index transform. The vocabulary relation never explodes: per
    iteration only the pair-count aggregate shuffles, and the winning
    pair broadcasts as a 1-row relation. A checkpoint bounds the
    loop's lineage (repo iterative-loop rule, tests/test_plans.py)."""
    pair_arr = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("syms") - 2),
            lambda i: F.struct(
                F.element_at("syms", i + 1).alias("x"),
                F.element_at("syms", i + 2).alias("y"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
    m = (
        words.select(F.explode_outer(pair_arr).alias("pr"), "freq")
        .filter(F.col("pr").isNotNull())
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(1)
    )
    m = m.transform(checkpoint)

    s = F.col("syms")
    # 0-based pair positions p where (syms[p], syms[p+1]) == (x, y).
    ps = F.when(
        F.size(s) >= 2,
        F.filter(
            F.sequence(F.lit(0), F.size(s) - 2),
            lambda p: (F.element_at(s, p + 1) == F.col("x"))
            & (F.element_at(s, p + 2) == F.col("y")),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # Greedy left-to-right non-overlap: take p iff no previously taken
    # position is p-1 (only possible inside x==x runs).
    taken = F.aggregate(
        ps,
        F.array().cast("array<int>"),
        lambda acc, p: F.when(
            (F.size(acc) == 0) | (p > F.element_at(acc, -1) + 1),
            F.concat(acc, F.array(p)),
        ).otherwise(acc),
    )
    tk = F.col("tk")
    new_syms = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size(s) - 1),
            lambda i: F.when(
                F.array_contains(tk, i),
                F.concat(F.element_at(s, i + 1), F.element_at(s, i + 2)),
            ).otherwise(
                F.when(F.array_contains(tk, i - 1), F.lit(None)).otherwise(
                    F.element_at(s, i + 1)
                )
            ),
        ),
        lambda v: v.isNotNull(),
    )
    rebuilt = (
        words.crossJoin(F.broadcast(m.select("x", "y")))
        .withColumn("tk", taken)
        .select("w", "freq", new_syms.alias("syms"))
    )
    return rebuilt.transform(checkpoint), m


_CHAIN_MEMO: dict[tuple[str, str], tuple[DataFrame, list[DataFrame]]] = {}


def _bpe_chain(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """Train chain, memoized per (application, fixture dir): train and
    encode share one materialized chain instead of re-running the merge
    loop. Keyed by applicationId so a new session never sees another
    session's checkpointed RDDs; fixture dirs are immutable."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _CHAIN_MEMO.get(key)
    if hit is not None:
        return hit
    words = _bpe_words0(spark, sf_dir).transform(checkpoint)
    merges: list[DataFrame] = []
    for _ in range(M_BPE):
        words, m = _bpe_step(words)
        merges.append(m)
    _CHAIN_MEMO[key] = (words, merges)
    return words, merges


@register(
    "llm_bpe_train",
    "K",
    oracle=_bpe_cte_prefix()
    + """
        SELECT * FROM (
        """
    + " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, x, y, x || y AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, M_BPE + 1)
    )
    + ")",
    doc=(
        "BPE tokenizer training, end to end: corpus -> word-frequency "
        "vocabulary (the single full-corpus pass) -> 4 merge iterations, "
        "each counting freq-weighted adjacent symbol pairs over the "
        "vocabulary relation and applying the argmax pair with true "
        "greedy left-to-right non-overlapping semantics (gaps-and-"
        "islands resolves x==x runs: every other position from each run "
        "head). Fully declarative per iteration — the winning pair is a "
        "broadcast 1-row relation, not driver state; a checkpoint "
        "bounds the loop's lineage. Deterministic (cnt DESC, x, y) "
        "tie-break. Oracle: the identical 4 iterations unrolled as CTEs."
    ),
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_chain(spark, sf_dir)
    out = None
    for i, m in enumerate(merges, start=1):
        sel = m.select(
            F.lit(i).alias("merge_rank"),
            "x",
            "y",
            F.concat("x", "y").alias("merged"),
            F.col("cnt").alias("pair_count"),
        )
        out = sel if out is None else out.unionAll(sel)
    return out


@register(
    "llm_bpe_encode",
    "K",
    oracle=_bpe_cte_prefix()
    + f"""
        , tokd AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS tok
            FROM documents
        ),
        vp AS (SELECT w, len(syms) AS np FROM w{M_BPE})
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(np) AS BIGINT) AS n_pieces,
               ROUND(CAST(SUM(np) AS DOUBLE) / COUNT(*), 6) AS pieces_per_token
        FROM tokd JOIN vp ON tok = w
        GROUP BY doc_id
    """,
    doc=(
        "BPE application at corpus scale: the trained segmentation lives "
        "on the VOCABULARY (word -> piece count), so encoding the corpus "
        "is a broadcast map-side join from the token stream to that tiny "
        "relation — no per-document merge loop ever runs at 100 TB. "
        "Per-document token/piece counts + compression ratio."
    ),
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, _ = _bpe_chain(spark, sf_dir)
    vp = words.select("w", F.size("syms").alias("np"))
    d = load(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    return (
        toks.join(F.broadcast(vp), toks.tok == vp.w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("np").alias("n_pieces"),
            F.round(
                F.sum("np").cast("double") / F.count(F.lit(1)), 6
            ).alias("pieces_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------

# Within-cluster cosine threshold above which two embeddings count as
# semantic duplicates (same value the label-blocked embcos operator uses
# on this fixture's embedding geometry).
SEMDEDUP_TAU = 0.3


def _semdedup_oracle() -> str:
    """Replay quantizer (llm_sim's shared 3-iteration Lloyd CTE chain),
    argmax cell assignment, and the lower-id-neighbor prune in DuckDB."""
    from big_data_management_and_analytics_spark.functions.llm_sim import _kmeans_cte

    return (
        _kmeans_cte()
        + f""",
        final AS (
            SELECT vec_id, cell FROM dots_final
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) = 1
        ),
        pruned AS (
            SELECT DISTINCT a.vec_id
            FROM final a
            JOIN final b ON a.cell = b.cell AND b.vec_id < a.vec_id
            JOIN vu ua ON ua.vec_id = a.vec_id
            JOIN vu ub ON ub.vec_id = b.vec_id
            WHERE list_dot_product(ua.u, ub.u) >= {SEMDEDUP_TAU}
        )
        SELECT f.vec_id, f.cell,
               CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        FROM final f LEFT JOIN pruned p ON p.vec_id = f.vec_id
    """
    )


@register(
    "llm_dedup_semantic",
    "K",
    oracle=_semdedup_oracle(),
    doc=(
        "SemDeDup (Abbas et al. 2023): k-means-cluster the embedding "
        "space, then prune semantic duplicates WITHIN each cluster — a "
        "vector is pruned iff a lower-id vector in its cluster has "
        "cosine >= tau. 100 TB shape: the quantizer is the shared "
        "spherical-k-means coarse quantizer (one distributed pass per "
        "Lloyd iteration, k*d driver state); clustering bounds the pair "
        "space to cluster-local blocks, each solved as ONE normalized "
        "matrix product inside applyInPandas (the llm_dedup_embcos "
        "pattern) — no global all-pairs join ever forms. Oracle replays "
        "quantizer, assignment, and prune."
    ),
)
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from big_data_management_and_analytics_spark.functions.llm_sim import (
        _kmeans_centroids,
        _nearest_cell_udf,
        _vecs,
    )

    v = _vecs(spark, sf_dir)
    cent = _kmeans_centroids(v)
    assigned = v.select(
        "vec_id", _nearest_cell_udf(cent)(F.col("emb")).alias("cell"), "emb"
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["emb"].to_numpy())
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        c = mn @ mn.T
        np.fill_diagonal(c, -2.0)  # self-pairs never prune
        pruned = ((c >= SEMDEDUP_TAU) & (ids[None, :] < ids[:, None])).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"],
                "kept": (~pruned).astype("int32"),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        per_cell, "vec_id long, cell int, kept int"
    )


@register(
    "llm_dedup_substring_rewrite",
    "K",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok FROM documents
        ),
        g AS (
            SELECT doc_id, gs.i AS i,
                   {SQL_PH0.format(
                       col=f"array_to_string(list_slice(tok, gs.i, gs.i + {K_SUB - 1}), ' ')"
                   )} AS h
            FROM t, UNNEST(generate_series(1, len(tok) - {K_SUB - 1})) AS gs(i)
            WHERE len(tok) >= {K_SUB}
        ),
        shared AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        dup AS (SELECT doc_id, i FROM g SEMI JOIN shared USING (h)),
        cov AS (
            SELECT DISTINCT doc_id, c.p AS p
            FROM dup, UNNEST(generate_series(i, i + {K_SUB - 1})) AS c(p)
        ),
        tokpos AS (
            SELECT doc_id, gs.p AS p, tok[gs.p] AS tk
            FROM t, UNNEST(generate_series(1, len(tok))) AS gs(p)
        ),
        kept AS (
            SELECT tp.doc_id, tp.p, tp.tk
            FROM tokpos tp ANTI JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
        ),
        kagg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   STRING_AGG(tk, ' ' ORDER BY p) AS clean
            FROM kept GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, len(tok) AS n_tokens FROM t)
        SELECT tt.doc_id, tt.n_tokens,
               tt.n_tokens - COALESCE(k.n_kept, 0) AS n_removed,
               COALESCE(k.clean, '') AS clean
        FROM totals tt LEFT JOIN kagg k ON k.doc_id = tt.doc_id
    """,
    doc=(
        "The actionable form of exact substring-span dedup (Lee et al. "
        "REMOVE the repeated spans, not the documents): every token "
        "position covered by any duplicated k-gram is dropped and the "
        "document is rebuilt from the surviving tokens in order. Same "
        "linear hashed-gram shape as llm_dedup_substring plus a "
        "position-explode + anti-join + ordered rebuild — all shuffles "
        "keyed by doc_id or an 8-byte hash; no pair space. Rebuild "
        "order is exact via sort-by-position aggregation."
    ),
)
def llm_dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = spread(d, "doc_id").select("doc_id", tokens(F.col("text")).alias("tok"))
    gram_hashes = F.when(
        F.size("tok") >= K_SUB,
        F.transform(
            F.sequence(F.lit(1), F.size("tok") - (K_SUB - 1)),
            lambda i: ph0(F.concat_ws(" ", F.slice(F.col("tok"), i, K_SUB))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    grams = (
        base.select("doc_id", F.posexplode_outer(gram_hashes).alias("i0", "h"))
        .filter(F.col("h").isNotNull())
        .select("doc_id", (F.col("i0") + 1).alias("i"), "h")
    )
    shared = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup = grams.join(shared, "h", "left_semi")
    cov = dup.select(
        "doc_id", F.explode(F.sequence("i", F.col("i") + (K_SUB - 1))).alias("p")
    ).distinct()
    tokpos = base.select(
        "doc_id", F.posexplode_outer("tok").alias("p0", "tk")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tk")
    # Flag covered positions instead of anti-joining, so token totals,
    # removal counts, and the ordered rebuild all come out of ONE
    # aggregation — base (scan + tokenize) is consumed exactly twice
    # (gram pass + token pass), the algorithm's minimum.
    flagged = tokpos.join(
        cov.withColumn("c", F.lit(1)), ["doc_id", "p"], "left"
    ).select("doc_id", "p", "tk", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("c").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("p", "tk", "c"))),
                    lambda s: s["c"] == 0,
                ),
                lambda s: s["tk"],
            ),
        ).alias("clean"),
    )


@register(
    "llm_bpe_vocab",
    "K",
    oracle=_bpe_cte_prefix()
    + f"""
        SELECT w, freq, array_to_string(syms, ' ') AS seg, len(syms) AS n_pieces
        FROM w{M_BPE}
        QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, w ASC) <= 50
    """,
    doc=(
        "The trained BPE segmentation table itself — top-50 vocabulary "
        "words with their piece split and piece count after M_BPE merges. "
        "This is the artifact a serving tokenizer ships; vocabulary-sized "
        "output regardless of corpus size. Shares the memoized train "
        "chain; oracle shares the unrolled CTE prefix."
    ),
)
def llm_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, _ = _bpe_chain(spark, sf_dir)
    return (
        words.select(
            "w",
            "freq",
            F.concat_ws(" ", "syms").alias("seg"),
            F.size("syms").alias("n_pieces"),
        )
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# ANN index quality evaluation
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    """Compose the brute-force and IVF oracles (each a self-contained
    WITH...SELECT, legal as a nested-WITH CTE body) and score recall@5."""
    from big_data_management_and_analytics_spark.functions import llm_sim
    from big_data_management_and_analytics_spark.plans.registry import get_query

    brute_sql = get_query("llm_sim_knn").oracle
    approx_sql = llm_sim._ivf_oracle()
    return f"""
        WITH brute AS ({brute_sql}),
        approx AS ({approx_sql}),
        truth AS (
            SELECT query_id, COUNT(*) AS n_true FROM brute GROUP BY query_id
        ),
        hits AS (
            SELECT b.query_id, COUNT(*) AS n_hit
            FROM brute b
            SEMI JOIN approx a
              ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
            GROUP BY b.query_id
        )
        SELECT t.query_id, CAST(t.n_true AS BIGINT) AS n_true,
               CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
               ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_true, 6)
                   AS recall_at_5
        FROM truth t LEFT JOIN hits h ON h.query_id = t.query_id
    """


@register(
    "llm_ann_recall",
    "K",
    oracle=_ann_recall_oracle(),
    doc=(
        "Self-evaluating index quality: recall@5 of the IVF ANN path "
        "against the exact brute-force top-5, computed INSIDE the engine "
        "as a per-query semi-join intersection — the eval harness a "
        "production vector store runs after every index build. Both "
        "rankings use the same (rounded cosine DESC, vec_id ASC) total "
        "order, so the intersection — and hence the measured recall — "
        "is deterministic cross-engine. Costs one brute pass over the "
        "query batch (the thing being audited) + the IVF probe path."
    ),
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.llm_sim import (
        llm_sim_knn,
        llm_sim_knn_ivf,
    )

    brute = llm_sim_knn(spark, sf_dir).select("query_id", "neighbor_id")
    approx = llm_sim_knn_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    truth = brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return truth.join(hits, "query_id", "left").select(
        "query_id",
        "n_true",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_true"),
            6,
        ).alias("recall_at_5"),
    )


def _rag_mrr_oracle() -> str:
    """Compose the brute/IVF oracles and score MRR + NDCG@5 with
    decimal-quantized per-position terms (order-invariant sums)."""
    from big_data_management_and_analytics_spark.functions import llm_sim
    from big_data_management_and_analytics_spark.plans.registry import get_query

    brute_sql = get_query("llm_sim_knn").oracle
    approx_sql = llm_sim._ivf_oracle()
    return f"""
        WITH brute0 AS ({brute_sql}),
        approx0 AS ({approx_sql}),
        brute AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS r
            FROM brute0
        ),
        approx AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS r
            FROM approx0
        ),
        rr AS (
            SELECT b.query_id,
                   COALESCE(MAX(CASE WHEN b.r = 1 THEN 1.0 / a.r END), 0.0)
                       AS rr
            FROM brute b
            LEFT JOIN approx a
              ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
            GROUP BY b.query_id
        ),
        dcg AS (
            SELECT a.query_id,
                   SUM(CASE WHEN b.neighbor_id IS NOT NULL
                            THEN CAST(ROUND(1.0 / log2(a.r + 1), 9)
                                      AS DECIMAL(28,9))
                            ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg
            FROM approx a
            LEFT JOIN brute b
              ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
            GROUP BY a.query_id
        ),
        idcg AS (
            SELECT query_id,
                   SUM(CAST(ROUND(1.0 / log2(r + 1), 9) AS DECIMAL(28,9)))
                       AS idcg
            FROM brute GROUP BY query_id
        )
        SELECT i.query_id,
               ROUND(rr.rr, 6) AS mrr,
               ROUND(CAST(COALESCE(d.dcg, 0) AS DOUBLE)
                     / CAST(i.idcg AS DOUBLE), 6) AS ndcg_at_5
        FROM idcg i
        JOIN rr ON rr.query_id = i.query_id
        LEFT JOIN dcg d ON d.query_id = i.query_id
    """


@register(
    "llm_rag_mrr",
    "K",
    oracle=_rag_mrr_oracle(),
    doc=(
        "Retrieval-quality metrics for the ANN serving path: per-query "
        "reciprocal rank of the true best neighbor inside the IVF list "
        "(MRR) and NDCG@5 of the IVF ranking judged by brute-force "
        "membership — the two ranking metrics a RAG stack reports "
        "beside llm_ann_recall's recall@5. Ranks re-derive from the "
        "shared (rounded cosine DESC, id ASC) total order, so positions "
        "are cross-engine deterministic; the ≤5 per-position DCG terms "
        "are quantized to DECIMAL(28,9) before summing (the perplexity "
        "convention) so even these tiny float sums cannot drift with "
        "aggregation order. Cost: the audited IVF probe + one brute "
        "pass over the query batch."
    ),
)
def llm_rag_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from big_data_management_and_analytics_spark.functions.llm_sim import (
        llm_sim_knn,
        llm_sim_knn_ivf,
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    brute = llm_sim_knn(spark, sf_dir).withColumn("r", F.row_number().over(w))
    approx = llm_sim_knn_ivf(spark, sf_dir).withColumn(
        "r", F.row_number().over(w)
    )
    b = brute.select("query_id", "neighbor_id", F.col("r").alias("br"))
    a = approx.select("query_id", "neighbor_id", F.col("r").alias("ar"))
    rr = (
        b.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("br") == 1, F.lit(1.0) / F.col("ar"))),
                F.lit(0.0),
            ).alias("rr")
        )
    )
    dcg_term = F.when(
        F.col("br").isNotNull(),
        F.round(F.lit(1.0) / F.log2(F.col("ar") + 1), 9).cast("decimal(28,9)"),
    ).otherwise(F.lit(0).cast("decimal(28,9)"))
    dcg = (
        a.join(b, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(dcg_term).alias("dcg"))
    )
    idcg = b.groupBy("query_id").agg(
        F.sum(
            F.round(F.lit(1.0) / F.log2(F.col("br") + 1), 9).cast("decimal(28,9)")
        ).alias("idcg")
    )
    return (
        idcg.join(rr, "query_id")
        .join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.col("rr"), 6).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0)).cast("double")
                / F.col("idcg").cast("double"),
                6,
            ).alias("ndcg_at_5"),
        )
    )


# Shared 5-gram CTE text for the corpus-novelty oracle (same construction
# as llm_text's contamination oracles: canonical tokenizer, per-position
# concat, list_distinct per doc; generate_series(1, len-4) is empty for
# docs under 5 tokens, mirroring _five_grams' size guard).
_GRAMS_CTE = """
    toks AS (
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
    )"""


@register(
    "llm_ngram_novelty",
    "K",
    oracle=f"""
        WITH {_GRAMS_CTE},
        eg AS (SELECT doc_id, UNNEST(gs) AS gram FROM grams),
        fst AS (SELECT gram, MIN(doc_id) AS first_doc FROM eg GROUP BY gram),
        per AS (
            SELECT e.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(COUNT(*) FILTER (WHERE f.first_doc = e.doc_id)
                        AS BIGINT) AS n_novel
            FROM eg e JOIN fst f USING (gram)
            GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
               COALESCE(p.n_novel, 0)::BIGINT AS n_novel,
               CASE WHEN p.n_grams > 0
                    THEN ROUND(p.n_novel::DOUBLE / p.n_grams, 6)
               END AS novelty_ratio
        FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc=(
        "Per-document n-gram NOVELTY audit: the fraction of a doc's "
        "distinct 5-grams whose FIRST corpus occurrence (min doc_id over "
        "the ingest order) is this document — the memorization-risk / "
        "boilerplate metric training-data pipelines compute alongside "
        "dedup (a doc full of already-seen grams is template or near-dup "
        "mass even when no single pair passes a dedup threshold; cf. the "
        "duplicate-text analyses in Lee et al. 2022). Plan: the shared "
        "contamination 5-gram pass, one first-occurrence aggregate on "
        "gram, one hash join back, one per-doc aggregate — all linear in "
        "total grams, the same shuffle shape as TF-IDF's document-"
        "frequency join, so the 100 TB posture is identical. Docs with "
        "fewer than 5 tokens report 0 grams and a NULL ratio."
    ),
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.llm_text import (
        _explode_grams,
        _five_grams,
    )

    d = load(spark, sf_dir, "documents")
    # _explode_grams, NOT a plain explode: the inferred size(gs)>0
    # filter of a plain explode pushes the whole gram expression below
    # _five_grams' repartition into the single-file scan task (measured
    # 33.6 s -> ~1 s at sf0.1, r6 — the same trap _explode_grams was
    # built for at round 2; this operator predated the helper's adoption
    # here).
    eg = _explode_grams(_five_grams(d), "doc_id")
    fst = eg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per = (
        eg.join(fst, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    ng = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            ng.alias("n_grams"),
            nn.alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_grams"), 6
                ),
            ).alias("novelty_ratio"),
        )
    )


@register(
    "llm_vocab_growth",
    "K",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_distinct(string_split_regex(lower(text), '\\s+')))
                       AS tok
            FROM documents
        ),
        fst AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
        mx AS (SELECT MAX(doc_id) + 1 AS n_ids FROM documents),
        dec AS (
            SELECT CAST(LEAST(9, (10 * first_doc) // n_ids) AS INT) AS decile
            FROM fst, mx
        ),
        per AS (
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_new_tokens
            FROM dec GROUP BY decile
        )
        SELECT a.decile, a.n_new_tokens,
               CAST(SUM(b.n_new_tokens) AS BIGINT) AS cum_vocab
        FROM per a JOIN per b ON b.decile <= a.decile
        GROUP BY a.decile, a.n_new_tokens
    """,
    doc=(
        "Vocabulary GROWTH curve (Heaps' law audit): distinct tokens "
        "attributed to the ingest decile (doc_id range) of their first "
        "occurrence, with the cumulative vocabulary size per decile — "
        "the curve data engineers plot to check a corpus keeps "
        "contributing new vocabulary (a flat tail means the remaining "
        "shards are redundant). Plan: one token first-occurrence "
        "aggregate (linear, the llm_ngram_novelty shape at token "
        "granularity), a 1-row max broadcast for the decile bounds "
        "(integer math: (10·first_doc) div n_ids — no float binning "
        "wobble), and a ≤10-row triangle self-join for the cumulative "
        "fold — the same counters-not-data pattern as the two-pass scan "
        "scaffold, so no unpartitioned window appears at any scale."
    ),
)
def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = (
        spread(d, "doc_id")
        .select(
            "doc_id",
            F.explode_outer(F.array_distinct(tokens(F.col("text")))).alias(
                "tok"
            ),
        )
        .filter(F.col("tok").isNotNull())
    )
    fst = words.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    mx = d.agg((F.max("doc_id") + 1).alias("n_ids"))
    dec = fst.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.lit(9), F.expr("(10 * first_doc) DIV n_ids")
        )
        .cast("int")
        .alias("decile")
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_tokens")
    )
    lower = per.select(
        F.col("decile").alias("d2"), F.col("n_new_tokens").alias("m")
    )
    return (
        per.join(F.broadcast(lower), F.col("d2") <= F.col("decile"))
        .groupBy("decile", "n_new_tokens")
        .agg(F.sum("m").cast("bigint").alias("cum_vocab"))
    )


@register(
    "llm_sample_topk_hash",
    "K",
    oracle="""
        SELECT doc_id, lang, n_chars,
               md5(CAST(doc_id AS VARCHAR)) AS sample_key
        FROM documents
        ORDER BY sample_key, doc_id
        LIMIT 100
    """,
    doc=(
        "Exact-size deterministic uniform sample: the 100 documents with "
        "the smallest md5(doc_id) — the distributed, rerun-stable "
        "replacement for reservoir sampling (hash order is a uniform "
        "random permutation of ids, fixed across engines/sessions/"
        "cluster layouts, so the sample is reproducible AND exactly k "
        "rows, where rate-based Bernoulli sampling like "
        "agg_sample_deterministic only hits k in expectation). Plan: "
        "TakeOrderedAndProject — per-partition size-k heaps merged on "
        "the driver, no global sort, no window; k rows of driver traffic "
        "regardless of corpus size (the sort_topk posture, asserted in "
        "tests/test_plans.py)."
    ),
)
def llm_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key", "doc_id")
        .limit(100)
    )


@register(
    "llm_fingerprint_winnow",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, gs.i,
                   {SQL_PH0.format(col="(t[gs.i] || ' ' || t[gs.i+1] || ' ' || t[gs.i+2] || ' ' || t[gs.i+3])")}
                       AS h
            FROM toks, LATERAL (
                SELECT UNNEST(generate_series(1, len(t) - 3)) AS i
            ) gs
        ),
        fps AS (
            SELECT DISTINCT doc_id,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                       AS fp
            FROM grams
        ),
        rep AS (
            SELECT fp, MIN(doc_id) AS bucket_rep, COUNT(*) AS bucket_n
            FROM fps GROUP BY fp
        )
        SELECT f.doc_id,
               CAST(MIN(r.bucket_rep) AS BIGINT) AS group_rep,
               CAST(MAX(r.bucket_n) AS BIGINT) AS max_bucket_size,
               MIN(r.bucket_rep) < f.doc_id AS is_candidate_dup
        FROM fps f JOIN rep r USING (fp)
        GROUP BY f.doc_id
    """,
    doc=(
        "WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, "
        "SIGMOD 2003 — the MOSS algorithm): positional 4-token k-gram "
        "hashes, a w=4 sliding window keeping each window's minimum "
        "hash, the distinct minima forming the doc's fingerprint set; "
        "docs sharing a fingerprint bucket-group exactly like the "
        "minhash LSH output (min-rep groups, linear — never pairs). "
        "Winnowing guarantees every shared run of w+k-1 = 7 tokens "
        "yields a shared fingerprint while sampling only ~2/(w+1) of "
        "grams — the local-dedup guarantee MinHash (whole-doc "
        "similarity) does not give and exact substring dedup "
        "(llm_dedup_substring, ALL grams) pays k× more hashes for. "
        "Variant note: windows shorter than w at a doc's start also "
        "emit their minimum (pure trailing-window min — one window "
        "expression, no edge case), and the fingerprint SET makes "
        "equal-hash tie rules moot; the oracle mirrors the exact same "
        "rule. All hashing is the portable md5 family, whole-stage "
        "codegen; per-doc state is one sorted window, map-side "
        "otherwise — linear at 100 TB."
    ),
)
def llm_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.llm_dedup import (
        _bucket_group_assign,
    )

    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    g = F.when(
        F.size("t") >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 3),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("t"), i + k) for k in range(4)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        spread(d, "doc_id")
        .select("doc_id", t.alias("t"))
        .select("doc_id", F.posexplode(g).alias("i", "gram"))
        .select("doc_id", "i", ph0(F.col("gram")).alias("h"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-3, Window.currentRow)
    )
    # Materialize once: the bucket assign consumes fps in two subplans
    # (bucket aggregate + join), and without this the tokenize+hash+
    # window pipeline runs twice (the minhash-signature lesson; ~2n/(w+1)
    # long pairs of state — linear).
    fps = (
        grams.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    return _bucket_group_assign(fps, "doc_id", bucket_cols=("fp",))


@register(
    "llm_template_skeleton",
    "K",
    oracle="""
        WITH sk AS (
            SELECT doc_id, source,
                   md5(regexp_replace(lower(text), '[a-z0-9]+', '_', 'g'))
                       AS skeleton_hash
            FROM documents
        )
        SELECT skeleton_hash,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM sk
        GROUP BY skeleton_hash
        HAVING COUNT(*) >= 2
    """,
    doc=(
        "TEMPLATE / boilerplate detection by structural skeleton: every "
        "alphanumeric run collapses to '_' so documents sharing layout "
        "but differing in content collide — the inverse of "
        "llm_dedup_canonical (which keeps content, drops formatting). "
        "Groups of ≥2 docs are template suspects, with the distinct-"
        "source count separating site-wide boilerplate (one source, "
        "many docs) from cross-site templates (many sources) — the "
        "diagnostic web-corpus pipelines run before deciding what "
        "near-dup thresholds miss. Map-only normalize + one hash "
        "aggregate: linear, no window, no join — llm_dedup_exact's "
        "plan shape at skeleton granularity."
    ),
)
def llm_template_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sk = F.md5(
        F.regexp_replace(F.lower(F.col("text")), "[a-z0-9]+", "_")
    )
    return (
        d.select("doc_id", "source", sk.alias("skeleton_hash"))
        .groupBy("skeleton_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "llm_domain_cap",
    "K",
    oracle="""
        SELECT source, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS sample_rank
        FROM documents
        QUALIFY sample_rank <= 100
    """,
    doc=(
        "DOMAIN CAPPING: at most 100 documents survive per source, "
        "chosen by portable-hash rank — the anti-domination step corpus "
        "balancing runs so one crawled site cannot swamp the mixture "
        "(the per-source form of llm_corpus_temperature's reweighting; "
        "llm_sample_topk_hash is the global-k sibling). Hash-rank "
        "selection makes the kept set a uniform, rerun-stable sample "
        "within each source — growing the corpus only swaps docs out, "
        "it never reshuffles survivors arbitrarily. One window "
        "partitioned by source (rank heaps would need "
        "TakeOrderedAndProject per group, which Spark lacks; the "
        "window + filter is the standard top-k-per-group plan, "
        "win_topk_per_group's asserted shape). Output is the capped "
        "corpus manifest (source, doc_id, rank)."
    ),
)
def llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id")
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 100)
    )


@register(
    "llm_word_pmi",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok, pos
            FROM (
                SELECT doc_id,
                       UNNEST({SQL_TOKENS.format(col='text')}) AS tok,
                       UNNEST(generate_series(
                           1, len({SQL_TOKENS.format(col='text')}))) AS pos
                FROM documents
            )
        ),
        big AS (
            SELECT a.tok AS x, b.tok AS y
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY x, y),
        cx AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        tot AS (
            SELECT (SELECT COUNT(*) FROM toks) AS n,
                   (SELECT COUNT(*) FROM big) AS m
        )
        SELECT cxy.x, cxy.y, CAST(cxy.c_xy AS BIGINT) AS c_xy,
               ROUND(ln((CAST(cxy.c_xy AS DOUBLE) * tot.n * tot.n)
                        / (CAST(tot.m AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
        FROM cxy
        JOIN cx ux ON ux.tok = cxy.x
        JOIN cx uy ON uy.tok = cxy.y
        CROSS JOIN tot
        WHERE cxy.c_xy >= 3
    """,
    doc=(
        "POINTWISE MUTUAL INFORMATION of adjacent token bigrams (Church "
        "& Hanks 1990 — the collocation-mining statistic): pmi = "
        "ln(p(x,y)/(p(x)p(y))) with p from exact corpus counts, i.e. "
        "ln(c_xy·N²/(M·c_x·c_y)) evaluated in ONE fixed-order double "
        "expression over exact integers (identical multiplication order "
        "both engines → identical double → identical ln; §2.0 "
        "discipline). Bigrams form per-document via a positional "
        "self-join (oracle) / an ordered lead window per doc (Spark) — "
        "never across document boundaries. The c_xy ≥ 3 support floor "
        "is the standard collocation cut. Plan: two token aggregates + "
        "two broadcast-able unigram joins + a 1-row totals broadcast — "
        "all linear, the PMI table itself is the vocabulary-sized "
        "output a phrase-miner or tokenizer-merge stage consumes."
    ),
)
def llm_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("y", F.lead("tok").over(w))
        .filter(F.col("y").isNotNull())
        .select(F.col("tok").alias("x"), "y")
    )
    cxy = big.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    cx = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        big.agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        cxy.filter(F.col("c_xy") >= 3)
        .join(F.broadcast(cx.withColumnRenamed("tok", "x").withColumnRenamed("c", "ux")), "x")
        .join(F.broadcast(cx.withColumnRenamed("tok", "y").withColumnRenamed("c", "uy")), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("n") * F.col("n"))
                    / (F.col("m").cast("double") * F.col("ux") * F.col("uy"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "llm_curriculum_order",
    "K",
    oracle=f"""
        WITH stats AS (
            SELECT doc_id,
                   (SELECT SUM(strlen(t.tok)) FROM
                       UNNEST({SQL_TOKENS.format(col='text')}) AS t(tok)) AS schars,
                   len({SQL_TOKENS.format(col='text')}) AS ntok
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   CAST(1000 * schars // ntok AS BIGINT) AS mwl_milli
            FROM stats WHERE ntok > 0
        )
        SELECT doc_id, mwl_milli,
               CAST(ROW_NUMBER() OVER (ORDER BY mwl_milli, doc_id) AS BIGINT)
                   AS curriculum_rank,
               CAST(NTILE(4) OVER (ORDER BY mwl_milli, doc_id) AS INT)
                   AS phase
        FROM scored
    """,
    doc=(
        "CURRICULUM ORDERING (Bengio et al., ICML 2009): documents are "
        "globally ranked easy→hard by an exact integer difficulty proxy "
        "— mean token length in millichars (1000·Σchars DIV ntok, "
        "integer floor division, no float surface) — and cut into 4 "
        "curriculum phases. The global total-order rank runs through "
        "the range-partitioned two-pass scan + closed-form ntile "
        "(operators/global_rank.py): no single-partition window at any "
        "scale, which is the whole point — a naive ORDER BY curriculum "
        "materialization is the classic 100 TB bottleneck. Output is "
        "the (doc → rank, phase) training-schedule manifest the data "
        "loader shuffles within-phase."
    ),
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.operators.global_rank import (
        ntile_expr,
        with_global_row_number,
    )

    d = load(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    scored = (
        toks.groupBy("doc_id")
        .agg(
            F.sum(F.length("tok")).alias("schars"),
            F.count(F.lit(1)).alias("ntok"),
        )
        .select(
            "doc_id",
            F.expr("1000 * schars DIV ntok").cast("bigint").alias("mwl_milli"),
        )
    )
    ranked = with_global_row_number(
        scored,
        [F.col("mwl_milli").asc(), F.col("doc_id").asc()],
        rn="curriculum_rank",
        total="_total",
    )
    return ranked.select(
        "doc_id",
        "mwl_milli",
        F.col("curriculum_rank").cast("bigint").alias("curriculum_rank"),
        ntile_expr(F.col("curriculum_rank"), F.col("_total"), 4).alias("phase"),
    )


@register(
    "llm_oov_rate",
    "K",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   UNNEST({SQL_TOKENS.format(col='text')}) AS tok
            FROM documents
        ),
        tv AS (
            SELECT DISTINCT lang, tok FROM tok WHERE doc_id % 5 != 0
        ),
        te AS (
            SELECT t.lang, t.tok,
                   CASE WHEN tv.tok IS NULL THEN 1 ELSE 0 END AS oov
            FROM (SELECT * FROM tok WHERE doc_id % 5 = 0) t
            LEFT JOIN tv ON tv.lang = t.lang AND tv.tok = t.tok
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_test_tokens,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
        FROM te GROUP BY lang
    """,
    doc=(
        "OUT-OF-VOCABULARY RATE per language: the fraction of held-out "
        "token occurrences (doc_id %% 5 = 0, the llm_nb_langid split) "
        "absent from that language's training vocabulary — the "
        "coverage metric that decides tokenizer/vocab sizing before a "
        "training run (the static complement to llm_vocab_growth's "
        "Heaps curve). Membership is one left join against the "
        "distinct (lang, token) train vocabulary — linear, "
        "equi-keyed, map-side combinable counts; the only float is "
        "the terminal rounded ratio of two BIGINTs."
    ),
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = spread(d, "doc_id").select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tv = tok.filter(F.col("doc_id") % 5 != 0).select("lang", "tok").distinct()
    te = (
        tok.filter(F.col("doc_id") % 5 == 0)
        .join(
            tv.withColumn("_seen", F.lit(1)),
            ["lang", "tok"],
            "left",
        )
        .withColumn("oov", F.when(F.col("_seen").isNull(), 1).otherwise(0))
    )
    return te.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.round(
            F.sum("oov").cast("double") / F.count(F.lit(1)), 6
        ).alias("oov_rate"),
    )


@register(
    "llm_bigram_kn",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok, pos
            FROM (
                SELECT doc_id,
                       UNNEST({SQL_TOKENS.format(col='text')}) AS tok,
                       UNNEST(generate_series(
                           1, len({SQL_TOKENS.format(col='text')}))) AS pos
                FROM documents
            )
        ),
        big AS (
            SELECT a.tok AS v, b.tok AS w
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        cvw AS (SELECT v, w, COUNT(*) AS c FROM big GROUP BY v, w),
        cv AS (
            SELECT v, SUM(c) AS cv, COUNT(*) AS n1p_fwd
            FROM cvw GROUP BY v
        ),
        cw AS (SELECT w, COUNT(*) AS n1p_bwd FROM cvw GROUP BY w),
        tt AS (SELECT COUNT(*) AS t FROM cvw)
        SELECT cvw.v, cvw.w, CAST(cvw.c AS BIGINT) AS c_vw,
               CAST(cv.cv AS BIGINT) AS c_v,
               ROUND(
                   (CAST(cvw.c AS DOUBLE) - 0.75) / cv.cv
                   + (0.75 * cv.n1p_fwd / cv.cv)
                     * (CAST(cw.n1p_bwd AS DOUBLE) / tt.t),
                   6) AS p_kn
        FROM cvw
        JOIN cv ON cv.v = cvw.v
        JOIN cw ON cw.w = cvw.w
        CROSS JOIN tt
    """,
    doc=(
        "KNESER-NEY smoothed bigram language model (Kneser & Ney, "
        "ICASSP 1995; Chen & Goodman 1998 form with absolute discount "
        "D = 0.75): p(w|v) = (c(vw)−D)/c(v) + λ(v)·p_cont(w), where "
        "λ(v) = D·N1+(v·)/c(v) and the CONTINUATION probability "
        "p_cont(w) = N1+(·w)/|bigram types| — the how-many-contexts "
        "estimator that distinguishes KN from plain interpolation "
        "(llm_text_unigram_lm is the MLE baseline; this is the "
        "n-gram-LM smoothing that held SOTA before neural LMs). Every "
        "statistic is an exact integer aggregate (bigram counts, "
        "context totals, forward/backward type counts, global type "
        "count); p_kn is ONE fixed-order double expression over them "
        "(no observed bigram has c−D ≤ 0, so no max() branch "
        "divergence). Plan: one lead-window bigram pass (the "
        "llm_word_pmi shape), three broadcast-able marginal joins, one "
        "1-row type-total broadcast — linear, all equi-keyed."
    ),
)
def llm_bigram_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w_lead = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("w", F.lead("tok").over(w_lead))
        .filter(F.col("w").isNotNull())
        .select(F.col("tok").alias("v"), "w")
    )
    cvw = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c"))
    cv = cvw.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cw = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    tt = cvw.agg(F.count(F.lit(1)).alias("t"))
    return (
        cvw.join(F.broadcast(cv), "v")
        .join(F.broadcast(cw), "w")
        .crossJoin(F.broadcast(tt))
        .select(
            "v",
            "w",
            F.col("c").cast("bigint").alias("c_vw"),
            F.col("cv").cast("bigint").alias("c_v"),
            F.round(
                (F.col("c").cast("double") - 0.75) / F.col("cv")
                + (F.lit(0.75) * F.col("n1p_fwd") / F.col("cv"))
                * (F.col("n1p_bwd").cast("double") / F.col("t")),
                6,
            ).alias("p_kn"),
        )
    )


RAKE_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on")
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


@register(
    "llm_keyword_rake",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok, pos,
                   CASE WHEN tok IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END
                       AS is_stop
            FROM (
                SELECT doc_id,
                       UNNEST({SQL_TOKENS.format(col='text')}) AS tok,
                       UNNEST(generate_series(
                           1, len({SQL_TOKENS.format(col='text')}))) AS pos
                FROM documents
            )
        ),
        seg AS (
            SELECT doc_id, tok, pos,
                   SUM(is_stop) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS phrase_id
            FROM toks
            QUALIFY is_stop = 0
        ),
        plen AS (
            SELECT doc_id, phrase_id, COUNT(*) AS len
            FROM seg GROUP BY 1, 2
        ),
        wscore AS (
            SELECT s.tok,
                   CAST(SUM(p.len) AS BIGINT) AS deg,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(ROUND(CAST(SUM(p.len) AS DOUBLE) / COUNT(*), 6)
                        AS DECIMAL(18,6)) AS score
            FROM seg s
            JOIN plen p ON p.doc_id = s.doc_id AND p.phrase_id = s.phrase_id
            GROUP BY s.tok
        ),
        pscore AS (
            SELECT s.doc_id, s.phrase_id,
                   string_agg(s.tok, ' ' ORDER BY s.pos) AS phrase,
                   ROUND(CAST(SUM(w.score) AS DOUBLE), 6) AS rake_score
            FROM seg s JOIN wscore w ON w.tok = s.tok
            GROUP BY s.doc_id, s.phrase_id
        )
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY rake_score DESC, phrase_id ASC) AS INT)
                   AS rake_rank,
               phrase, rake_score
        FROM pscore
        QUALIFY rake_rank <= 3
    """,
    doc=(
        "RAKE keyword extraction (Rose, Engel, Cramer, Cowley 2010): "
        "candidate phrases are maximal stopword-free token runs "
        "(segmented by the gaps-and-islands running-stopword-count "
        "trick — win_gaps_islands applied to text), each word scores "
        "deg/freq over the whole corpus' phrase table, each phrase "
        "sums its words' scores, top-3 phrases per document survive. "
        "Word scores are ROUND(...,6)→DECIMAL(18,6) before the "
        "per-phrase sum (order-invariant, §2.0 rule 2); ranking keys "
        "are the rounded score + phrase position. Plan: one "
        "per-document position window, two hash aggregates (phrase "
        "lengths, corpus word scores — the latter broadcast-joined "
        "back), one top-k window per doc — linear in tokens, the "
        "classic extractor a training pipeline runs for doc tagging."
    ),
)
def llm_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).withColumn(
        "is_stop",
        F.when(F.col("tok").isin(*RAKE_STOPWORDS), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = (
        toks.withColumn("phrase_id", F.sum("is_stop").over(w_run))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "tok", "pos", "phrase_id")
    )
    plen = seg.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("len")
    )
    wscore = (
        seg.join(plen, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.sum("len").cast("bigint").alias("deg"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.round(
                F.sum("len").cast("double") / F.count(F.lit(1)), 6
            )
            .cast("decimal(18,6)")
            .alias("score"),
        )
    )
    pscore = (
        seg.join(F.broadcast(wscore.select("tok", "score")), "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x.tok,
                ),
            ).alias("phrase"),
            F.round(F.sum("score").cast("double"), 6).alias("rake_score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("rake_score").desc(), F.col("phrase_id").asc()
    )
    return (
        pscore.withColumn("rake_rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rake_rank") <= 3)
        .select("doc_id", "rake_rank", "phrase", "rake_score")
    )


BM25_QUERIES = (
    ("q1", "spark join"),
    ("q2", "slow query"),
    ("q3", "data stream"),
)


def _sq(s: str) -> str:
    """SQL single-quote escape for string literals interpolated into
    VALUES relations (ANSI '' doubling — same rule in Spark SQL and
    DuckDB), so a future query constant containing an apostrophe can't
    break the VALUES parse (ADVICE r6)."""
    return s.replace("'", "''")


_BM25_Q_SQL = ", ".join(f"('{_sq(q)}', '{_sq(t)}')" for q, t in BM25_QUERIES)


def _qterms_df(spark: SparkSession) -> DataFrame:
    """(query_id, term) pairs as a literal VALUES relation — a
    LocalRelation the broadcast exchanges materialize driver-side with
    no parallelize job (vs spark.createDataFrame on a Python list,
    which schedules a defaultParallelism-sliced job per materialization;
    measured 0.38 -> 0.15 s each at local[32], r6)."""
    vals = ", ".join(
        f"('{_sq(q)}', '{_sq(t)}')"
        for q, qt in BM25_QUERIES
        for t in qt.split(" ")
    )
    return spark.sql(f"SELECT col1 AS query_id, col2 AS term FROM VALUES {vals}")


@register(
    "llm_bm25_search",
    "K",
    oracle=f"""
        WITH queries(query_id, qtext) AS (VALUES {_BM25_Q_SQL}),
        qterms AS (
            SELECT query_id, UNNEST(string_split(qtext, ' ')) AS term
            FROM queries
        ),
        words AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM words GROUP BY doc_id, term
        ),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        stats AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM dl
        ),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(ROUND(
                       ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                       * (CAST(tf.tf AS DOUBLE) * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)),
                       6) AS DECIMAL(18,6)) AS s
            FROM qterms q
            JOIN tf ON tf.term = q.term
            JOIN df ON df.term = q.term
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
        ),
        agg AS (
            SELECT query_id, doc_id,
                   ROUND(CAST(SUM(s) AS DOUBLE), 6) AS bm25
            FROM scored GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, bm25,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
        FROM agg
        QUALIFY rank <= 5
    """,
    doc=(
        "BM25 LEXICAL RETRIEVAL (Robertson & Walker, SIGIR 1994; "
        "k1 = 1.2, b = 0.75): three fixed keyword queries score against "
        "the corpus with the classic idf·tf-saturation·length-"
        "normalization formula, top-5 documents per query — the exact "
        "lexical baseline every hybrid RAG stack pairs with the "
        "llm_rag_retrieve dense path, and the consumer the "
        "llm_inverted_index operator exists to serve. All statistics "
        "(tf, df, dl, N, Σdl) are exact integers; each term's partial "
        "score is ONE fixed-order double expression then "
        "ROUND→DECIMAL(18,6) so the per-doc sum is order-invariant "
        "(§2.0 rule 2); ranking uses the rounded score + doc_id. "
        "Plan: one tokenize pass feeds tf/dl/df (tf-derived, the "
        "llm_text_tfidf reuse discipline), query terms and df join "
        "broadcast-ably, one top-k window per query — posting-list "
        "sized work, linear in the corpus."
    ),
)
def llm_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = spread(d, "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = _qterms_df(spark)
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.log(
                    1.0
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf").cast("double") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("s").cast("double"), 6).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


@register(
    "llm_hybrid_rrf",
    "K",
    oracle=f"""
        WITH queries(query_id, qtext) AS (VALUES {_BM25_Q_SQL}),
        qterms AS (
            SELECT query_id, UNNEST(string_split(qtext, ' ')) AS term
            FROM queries
        ),
        words AS (
            SELECT doc_id, UNNEST({SQL_TOKENS.format(col='text')}) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM words GROUP BY doc_id, term
        ),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY doc_id),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        stats AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM dl
        ),
        bscored AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(ROUND(
                       ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                       * (CAST(tf.tf AS DOUBLE) * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)),
                       6) AS DECIMAL(18,6)) AS s
            FROM qterms q
            JOIN tf ON tf.term = q.term
            JOIN df ON df.term = q.term
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
        ),
        bm25 AS (
            SELECT query_id, doc_id,
                   ROUND(CAST(SUM(s) AS DOUBLE), 6) AS bm25
            FROM bscored GROUP BY query_id, doc_id
        ),
        brank AS (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS r
            FROM bm25
            QUALIFY r <= 20
        ),
        ddims AS (
            SELECT vec_id AS doc_id, pos, emb[pos] AS val
            FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
            CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS pos)
        ),
        cent AS (
            SELECT b.query_id, d.pos,
                   CAST(SUM(CAST(FLOOR(d.val * 1000000000.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / COUNT(*) / 1000000000.0 AS cval
            FROM brank b JOIN ddims d ON d.doc_id = b.doc_id
            WHERE b.r <= 3
            GROUP BY 1, 2
        ),
        dotp AS (
            SELECT c.query_id, d.doc_id,
                   SUM(CAST(FLOOR(c.cval * d.val * 1000000000.0 + 0.5)
                            AS BIGINT)) AS dp
            FROM cent c JOIN ddims d ON d.pos = c.pos
            GROUP BY 1, 2
        ),
        cnorm AS (
            SELECT query_id,
                   SUM(CAST(FLOOR(cval * cval * 1000000000.0 + 0.5)
                            AS BIGINT)) AS cn
            FROM cent GROUP BY query_id
        ),
        dnorm AS (
            SELECT doc_id,
                   SUM(CAST(FLOOR(val * val * 1000000000.0 + 0.5)
                            AS BIGINT)) AS dn
            FROM ddims GROUP BY doc_id
        ),
        drank AS (
            SELECT dotp.query_id, dotp.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY dotp.query_id
                       ORDER BY CAST(FLOOR(CAST(dotp.dp AS DOUBLE)
                                    / (sqrt(CAST(cnorm.cn AS DOUBLE))
                                       * sqrt(CAST(dnorm.dn AS DOUBLE)))
                                    * 1000000.0 + 0.5) AS BIGINT) DESC,
                                dotp.doc_id ASC) AS r
            FROM dotp
            JOIN cnorm ON cnorm.query_id = dotp.query_id
            JOIN dnorm ON dnorm.doc_id = dotp.doc_id
            QUALIFY r <= 20
        ),
        fused AS (
            SELECT COALESCE(b.query_id, d.query_id) AS query_id,
                   COALESCE(b.doc_id, d.doc_id) AS doc_id,
                   ROUND(COALESCE(1.0 / (60 + b.r), 0.0)
                         + COALESCE(1.0 / (60 + d.r), 0.0), 6) AS rrf
            FROM brank b
            FULL OUTER JOIN drank d
              ON d.query_id = b.query_id AND d.doc_id = b.doc_id
        )
        SELECT query_id, doc_id, rrf,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
        FROM fused
        QUALIFY rank <= 5
    """,
    doc=(
        "HYBRID RETRIEVAL with RECIPROCAL RANK FUSION (Cormack, "
        "Clarke, Büttcher, SIGIR 2009): the BM25 lexical ranking "
        "(llm_bm25_search's scorer, top-20) fuses with a dense ranking "
        "built by PSEUDO-RELEVANCE FEEDBACK (Rocchio): the centroid of "
        "the BM25 top-3 docs' embeddings re-scores the whole corpus by "
        "cosine, and rrf = Σ 1/(60+rank) over both lists picks the "
        "top-5 — the lexical+dense hybrid every production RAG stack "
        "runs, expressed end-to-end in one plan. Determinism: centroid "
        "dims, dot products, and norms all quantize to integer "
        "NANO-UNITS via FLOOR(x*1e9 + 0.5) and sum as LONGs "
        "(order-invariant, pure IEEE — SURVEY 2.0 amendment 13; the "
        "earlier ROUND(x,9)->DECIMAL form carried the engine-flavored "
        "ROUND hazard once per element); the dense ranking key is an "
        "integer micro-cosine with doc_id tiebreaks; the two 1/(60+r) "
        "terms are exact-rational doubles whose 2-term sum is "
        "order-free. Plan (round 5, the r4-declared dense swap DONE): "
        "the BM25 branch is posting-list work whose aggregate and "
        "ranking window share one query_id exchange; the dense branch "
        "broadcasts each query's centroid as ONE array row and scores "
        "every doc map-side with zip_with + exact LONG nano-unit "
        "aggregates (whole-stage codegen — no 64·|docs| dim join, no "
        "Arrow boundary, long adds instead of DECIMAL(38,9) folds); "
        "fusion is a union+grouped-max of the two <=20-row-per-query "
        "lists on the same coarser-key exchange as the final ranking."
    ),
)
def llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = spread(d, "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # (Round-5 audit: a query-vocabulary pre-filter on the token stream —
    # shuffle only the postings of query terms, derive dl as
    # size(tokens(text)) straight off the scan — was implemented and
    # MEASURED SLOWER here (2.37 → 2.62 s): dl-from-scan re-runs the
    # regex tokenizer in three subtrees where the tf-derived form pays one
    # tokenize + one shuffle that all three statistics reuse. At 100 TB
    # with a persisted posting list the pre-filter wins; against a raw
    # text scan it does not. Kept as the r4-shaped single-pass form.)
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qterms = _qterms_df(d.sparkSession)
    bscored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df), "term")
        # dl is |docs| rows of two longs — broadcast beats re-shuffling the
        # (already small, qterms-filtered) tf side by doc_id (round 5; at
        # cluster scale dl is the one relation here that grows with the
        # corpus — there the broadcast hint comes off and AQE picks the
        # shuffle join).
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.log(
                    1.0
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf").cast("double") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s"),
        )
    )
    # One exchange serves both the (query,doc) aggregate and the per-query
    # ranking window: HashPartitioning(query_id) satisfies the clustered
    # distribution of groupBy(query_id, doc_id) AND of the window, so
    # repartitioning on the coarser key up front fuses what would be two
    # back-to-back shuffles (round 5).
    bm25 = (
        bscored.repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s").cast("double"), 6).alias("bm25"))
    )
    w_b = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    brank = (
        bm25.withColumn("r", F.row_number().over(w_b))
        .filter(F.col("r") <= 20)
        .select("query_id", "doc_id", "r")
        # ≤ 20·|queries| rows feeding two consumers (top-3 centroid +
        # fusion); materializing once keeps the whole BM25 subtree out of
        # the final job's plan (exchange reuse is not guaranteed under AQE
        # — the round-3 re-evaluated-exchange hazard).
        .transform(checkpoint)
    )
    e = load(spark, sf_dir, "embeddings")
    # Rocchio centroid of the BM25 top-3 per query: ≤15 (query, doc) rows
    # broadcast against the embeddings scan, exploded AFTER the join so
    # only the selected docs' vectors widen to dims (960 rows, not 64·n).
    cent = (
        F.broadcast(brank.filter(F.col("r") <= 3).select("query_id", "doc_id"))
        .join(e, F.col("doc_id") == F.col("vec_id"))
        .select(
            "query_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "val"
            ),
        )
        # one query_id exchange serves this aggregate AND the array
        # collapse below (coarser-key clustering, as with bm25 above)
        .repartition("query_id")
        .groupBy("query_id", (F.col("pos0") + 1).alias("pos"))
        .agg(
            (
                F.sum(
                    F.floor(F.col("val") * F.lit(1000000000.0) + F.lit(0.5))
                ).cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000000.0)
            ).alias("cval")
        )
    )
    # Round-5 (r4 verdict item 3): the declared dense-branch swap. The old
    # form shuffled cent⋈ddims (64·|docs| rows) to build dot products;
    # instead the per-query centroid collapses to ONE 64-double array row
    # (|queries| rows total) carrying its own pre-computed norm, which
    # broadcast-nested-loop joins the embeddings scan — so every per-doc
    # cosine is one map-side zip_with/aggregate over the stored embedding
    # array: whole-stage codegen, zero Python, zero driver roundtrip, and
    # no shuffle until the |queries|·n-row top-20 window. Element
    # expressions mirror the oracle's op order exactly (FLOOR nano-unit
    # quantization → exact order-free LONG sum), so the comparison is
    # bit-deterministic. This beats the docstring's promised Arrow UDF:
    # no serialization boundary at all.
    zero_l = F.lit(0).cast("bigint")

    def _nanosum(arr):
        # exact LONG sum of nano-unit quantized elements: |element| <= 1e9
        # and 64 dims bound the sum well inside int64 — long adds in
        # whole-stage codegen, ~an order cheaper than DECIMAL(38,9) folds
        return F.aggregate(arr, zero_l, lambda acc, x: acc + x)

    def _nano(col):
        # FLOOR(x*1e9 + 0.5): the pure-IEEE quantizer (SURVEY 2.0 am. 13)
        # — ROUND(x,9) here would reintroduce the engine-flavored-round
        # hazard once per element per engine
        return F.floor(col * F.lit(1000000000.0) + F.lit(0.5))

    cent_arr = cent.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.cval,
        ).alias("carr")
    ).withColumn(
        "cn",
        _nanosum(F.transform(F.col("carr"), lambda c: _nano(c * c))),
    )
    emb = F.col("embedding").cast("array<double>")
    # The per-doc norm fold happens BEFORE the query crossJoin so it runs
    # once per document, not once per (document × query) — with |q| queries
    # that removes (|q|-1)/|q| of the dn decimal folds from the widest
    # stage (round 5; values identical, so the oracle hash is unchanged).
    e_norm = e.select(
        F.col("vec_id").alias("doc_id"),
        emb.alias("darr"),
        _nanosum(F.transform(emb, lambda v: _nano(v * v))).alias("dn"),
    )
    scored = (
        e_norm.crossJoin(F.broadcast(cent_arr))
        .select(
            "doc_id",
            "query_id",
            "cn",
            _nanosum(
                F.zip_with(
                    F.col("carr"),
                    F.col("darr"),
                    lambda c, v: _nano(c * v),
                )
            ).alias("dp"),
            "dn",
        )
    )
    w_d = Window.partitionBy("query_id").orderBy(
        F.floor(
            F.col("dp").cast("double")
            / (
                F.sqrt(F.col("cn").cast("double"))
                * F.sqrt(F.col("dn").cast("double"))
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .desc(),
        F.col("doc_id").asc(),
    )
    drank = (
        scored.withColumn("r", F.row_number().over(w_d))
        .filter(F.col("r") <= 20)
        .select("query_id", "doc_id", "r")
    )
    # RRF fusion as union + grouped max instead of a full-outer join —
    # identical semantics (each (query,doc) appears at most once per list)
    # but ONE clustering of the ≤40·|queries| rows, and repartitioning on
    # query_id first lets the grouped aggregate and the final ranking
    # window share that single exchange (round 5: same fusion trick as the
    # bm25 aggregate above).
    fused = (
        brank.select(
            "query_id", "doc_id", F.col("r").alias("br"), F.lit(None).cast("int").alias("dr")
        )
        .unionAll(
            drank.select(
                "query_id", "doc_id", F.lit(None).cast("int").alias("br"), F.col("r").alias("dr")
            )
        )
        .repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.max("br").alias("br"), F.max("dr").alias("dr"))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("br")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("dr")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_f).cast("int"))
        .filter(F.col("rank") <= 5)
    )


@register(
    "llm_watermark_greenlist",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   CAST(len(tok) - 1 AS BIGINT) AS n_pairs,
                   CAST(len(list_filter(
                       list_transform(
                           generate_series(2, len(tok)),
                           i -> ('0x' || substr(
                                     md5(tok[i - 1] || ' ' || tok[i]),
                                     1, 15))::BIGINT % 2),
                       b -> b = 0)) AS BIGINT) AS n_green
            FROM toks WHERE len(tok) >= 2
        )
        SELECT doc_id, n_pairs, n_green,
               ROUND(CAST(n_green AS DOUBLE) / n_pairs, 6) AS green_frac,
               ROUND((2.0 * n_green - n_pairs) / sqrt(CAST(n_pairs AS DOUBLE)),
                     6) AS z_score,
               CAST(CASE WHEN (2.0 * n_green - n_pairs)
                              / sqrt(CAST(n_pairs AS DOUBLE)) > 4.0
                         THEN 1 ELSE 0 END AS INT) AS watermarked
        FROM scored
    """,
    doc=(
        "LLM WATERMARK DETECTION (Kirchenbauer et al., ICML 2023, "
        "γ = 1/2): each token's membership in the previous token's "
        "'green list' is decided by the repo's portable 60-bit md5 "
        "hash (parity of H0(prev ∥ ' ' ∥ tok) — the generator-side "
        "seeding rule replayed by the detector), and a document is "
        "flagged when its one-proportion z-score (2g − n)/√n clears "
        "4σ — the published detection statistic. Human text hashes to "
        "green ≈ half the time (z ≈ 0); watermarked generations "
        "oversample green and push z to tens. Determinism: the "
        "green/red partition is the portable md5 family (bit-identical "
        "cross-engine, like every LSH operator here), counts are exact "
        "integers, √ is IEEE-correctly-rounded, and the 4.0 threshold "
        "compares bit-identical doubles in both engines. Plan: "
        "MAP-ONLY — the pair list, hashes, and counts all evaluate "
        "inside one projection per document (no explode, no shuffle); "
        "at 100 TB this is an embarrassingly-parallel scan, the "
        "cheapest possible shape (the llm_text_fingerprint cost "
        "profile)."
    ),
)
def llm_watermark_greenlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    scored = (
        spread(d, "doc_id")
        .select("doc_id", tok.alias("tok"))
        .filter(F.size("tok") >= 2)
        .select(
            "doc_id",
            (F.size("tok") - 1).cast("bigint").alias("n_pairs"),
            F.size(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(2), F.size("tok")),
                        lambda i: ph0(
                            F.concat_ws(
                                " ",
                                F.element_at(F.col("tok"), i - 1),
                                F.element_at(F.col("tok"), i),
                            )
                        )
                        % 2,
                    ),
                    lambda b: b == 0,
                )
            )
            .cast("bigint")
            .alias("n_green"),
        )
    )
    z = (F.lit(2.0) * F.col("n_green") - F.col("n_pairs")) / F.sqrt(
        F.col("n_pairs").cast("double")
    )
    return scored.select(
        "doc_id",
        "n_pairs",
        "n_green",
        F.round(F.col("n_green").cast("double") / F.col("n_pairs"), 6).alias(
            "green_frac"
        ),
        F.round(z, 6).alias("z_score"),
        F.when(z > 4.0, 1).otherwise(0).cast("int").alias("watermarked"),
    )


@register(
    "llm_prefix_cache_sim",
    "K",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok
            FROM documents
        ),
        eligible AS (
            SELECT doc_id, tok, len(tok) AS n
            FROM toks WHERE len(tok) >= 4
        ),
        keyed AS (
            SELECT doc_id, tok, n,
                   tok[1] || ' ' || tok[2] || ' ' || tok[3] || ' ' || tok[4]
                       AS bucket
            FROM eligible
        ),
        g AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS total_tokens
            FROM keyed GROUP BY bucket HAVING COUNT(*) >= 2
        ),
        pos AS (
            SELECT k.bucket, p.pos, k.tok[p.pos] AS t
            FROM keyed k
            JOIN g USING (bucket)
            CROSS JOIN LATERAL (
                SELECT UNNEST(generate_series(1, CAST(k.n AS INT))) AS pos
            ) p
        ),
        agree AS (
            SELECT bucket, pos,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(COUNT(DISTINCT t) AS BIGINT) AS dst
            FROM pos GROUP BY bucket, pos
        ),
        pref AS (
            SELECT a.bucket,
                   CAST(COALESCE(
                       MIN(CASE WHEN a.cnt <> g.n_docs OR a.dst <> 1
                                THEN a.pos END) - 1,
                       MAX(a.pos)) AS BIGINT) AS prefix_len
            FROM agree a JOIN g USING (bucket)
            GROUP BY a.bucket, g.n_docs
        )
        SELECT g.bucket, g.n_docs, g.total_tokens, p.prefix_len,
               CAST((g.n_docs - 1) * p.prefix_len AS BIGINT)
                   AS cached_tokens,
               ROUND(CAST((g.n_docs - 1) * p.prefix_len AS DOUBLE)
                     / g.total_tokens, 6) AS hit_rate
        FROM g JOIN pref p USING (bucket)
    """,
    doc=(
        "KV PREFIX-CACHE HIT-RATE simulation (the serving-economics "
        "audit behind RadixAttention/vLLM prefix caching): documents "
        "bucket by their first-4-token key (the radix-trie fanout "
        "level), each bucket's SHARED PREFIX is the longest run of "
        "positions where every member is both present and identical, "
        "and under perfect prefix reuse the first request pays the "
        "full prefill while the other g−1 skip prefix_len tokens each "
        "— cached/total is the ceiling on prefill savings for this "
        "corpus, the number a platform team wants BEFORE enabling the "
        "cache. The prefix length needs no sequential scan: it is "
        "COALESCE(first violating position − 1, max position) over "
        "per-(bucket, position) agree counts — one aggregate, exactly "
        "mirrored in SQL. Determinism: counts and lengths are exact "
        "BIGINTs; the one double is the final round-6 rate. Plan: "
        "tokenize → position explode (bounded by doc length) → two "
        "hash aggregates; linear, no window, no join wider than the "
        "bucket dimension."
    ),
)
def llm_prefix_cache_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    keyed = (
        spread(d, "doc_id")
        .select("doc_id", tok.alias("tok"))
        .filter(F.size("tok") >= 4)
        .select(
            "doc_id",
            "tok",
            F.size("tok").cast("bigint").alias("n"),
            F.concat_ws(
                " ",
                F.element_at("tok", 1),
                F.element_at("tok", 2),
                F.element_at("tok", 3),
                F.element_at("tok", 4),
            ).alias("bucket"),
        )
        .transform(checkpoint)  # sizes + position explode reuse
    )
    g = (
        keyed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    pos = (
        keyed.join(F.broadcast(g.select("bucket")), "bucket")
        .select("bucket", F.posexplode("tok").alias("pos0", "t"))
        .select("bucket", (F.col("pos0") + 1).alias("pos"), "t")
    )
    agree = pos.groupBy("bucket", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.countDistinct("t").cast("bigint").alias("dst"),
    )
    pref = (
        agree.join(F.broadcast(g.select("bucket", "n_docs")), "bucket")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("cnt") != F.col("n_docs"))
                        | (F.col("dst") != 1),
                        F.col("pos"),
                    )
                )
                - 1,
                F.max("pos"),
            )
            .cast("bigint")
            .alias("prefix_len")
        )
    )
    return g.join(pref, "bucket").select(
        "bucket",
        "n_docs",
        "total_tokens",
        "prefix_len",
        ((F.col("n_docs") - 1) * F.col("prefix_len"))
        .cast("bigint")
        .alias("cached_tokens"),
        F.round(
            ((F.col("n_docs") - 1) * F.col("prefix_len")).cast("double")
            / F.col("total_tokens"),
            6,
        ).alias("hit_rate"),
    )


@register(
    "llm_rouge_l",
    "K",
    oracle=f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, {SQL_TOKENS.format(col='text')} AS tok
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.tok AS xs, b.tok AS ys,
                   CAST(len(a.tok) AS BIGINT) AS n,
                   CAST(len(b.tok) AS BIGINT) AS m
            FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % 2 = 1 AND len(a.tok) >= 1 AND len(b.tok) >= 1
        ),
        r AS (
            SELECT doc_a, doc_b, xs, ys, n, m, CAST(0 AS BIGINT) AS d,
                   [CAST(0 AS BIGINT)
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p1,
                   [CAST(0 AS BIGINT)
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p2
            FROM pairs
            UNION ALL
            SELECT doc_a, doc_b, xs, ys, n, m, d + 1,
                   [CASE WHEN i >= 1 AND i <= n
                              AND d + 1 - i >= 1 AND d + 1 - i <= m
                         THEN CASE WHEN xs[CAST(i AS INT)]
                                        = ys[CAST(d + 1 - i AS INT)]
                                   THEN p2[CAST(i AS INT)] + 1
                                   ELSE greatest(p1[CAST(i AS INT)],
                                                 p1[CAST(i + 1 AS INT)])
                              END
                         ELSE CAST(0 AS BIGINT) END
                    FOR i IN generate_series(0, CAST(n AS INT))] AS p1,
                   p1 AS p2
            FROM r WHERE d < n + m
        )
        SELECT doc_a, doc_b, n AS len_a, m AS len_b,
               p1[CAST(n + 1 AS INT)] AS lcs_len,
               ROUND(2.0 * p1[CAST(n + 1 AS INT)] / (n + m), 6)
                   AS rouge_l_f1
        FROM r WHERE d = n + m
    """,
    doc=(
        "ROUGE-L (Lin, ACL 2004 — the LCS-based summarization/"
        "generation eval metric): token-level longest common "
        "subsequence between each adjacent-id document pair (the "
        "declared reference↔candidate eval pairing, the BM25_QUERIES "
        "fixed-fixture convention) with F1 = 2·LCS/(n+m) — which is "
        "exactly the harmonic mean of the LCS precision and recall, "
        "so one exact rational covers all three. Completes the "
        "in-engine evaluation family (llm_ann_recall, llm_rag_mrr: "
        "retrieval; this: generation overlap). The DP runs over "
        "ANTI-DIAGONAL wavefronts exactly like ts_dtw — diag d "
        "depends only on d−1/d−2, each step one pure comprehension — "
        "and every cell is an exact BIGINT (match extends the "
        "diagonal, mismatch takes a max), so the two engines cannot "
        "diverge; the single double is the final round-6 F1. Plan: "
        "pair rows fold their own O((n+m)·n) DP map-side; parallelism "
        "= pair count, no shuffle after the id-join."
    ),
)
def llm_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    d_ = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    t = spread(d_, "doc_id").select("doc_id", tok.alias("tok"))
    a = t.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("doc_a"), F.col("tok").alias("xs")
    )
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("ys"))
    pairs = (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .withColumn("n", F.size("xs").cast("bigint"))
        .withColumn("m", F.size("ys").cast("bigint"))
        .filter((F.col("n") >= 1) & (F.col("m") >= 1))
    )
    n, m = F.col("n"), F.col("m")
    zero = F.lit(0).cast("long")
    zeros = F.transform(F.sequence(F.lit(0), n.cast("int")), lambda i: zero)

    def step(acc, d):
        def cell(i):
            j = d - i
            return F.when(
                (i >= 1) & (i.cast("long") <= n)
                & (j >= 1) & (j.cast("long") <= m),
                F.when(
                    F.element_at(F.col("xs"), i)
                    == F.element_at(F.col("ys"), j),
                    F.element_at(acc["p2"], i) + 1,
                ).otherwise(
                    F.greatest(
                        F.element_at(acc["p1"], i),
                        F.element_at(acc["p1"], i + 1),
                    )
                ),
            ).otherwise(zero)

        return F.struct(
            F.transform(
                F.sequence(F.lit(0), n.cast("int")), cell
            ).alias("p1"),
            acc["p1"].alias("p2"),
        )

    folded = F.aggregate(
        F.sequence(F.lit(1), (n + m).cast("int")),
        F.struct(zeros.alias("p1"), zeros.alias("p2")),
        step,
    )
    lcs = F.element_at(folded["p1"], (n + 1).cast("int"))
    return pairs.select(
        "doc_a",
        "doc_b",
        n.alias("len_a"),
        m.alias("len_b"),
        lcs.alias("lcs_len"),
        F.round(F.lit(2.0) * lcs / (n + m), 6).alias("rouge_l_f1"),
    )
