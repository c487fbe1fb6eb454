"""Category K (similarity) — vector similarity search (SURVEY.md §2.K).

Two cosine paths:
- ``cosine`` — built-in higher-order functions (zip_with + aggregate),
  sequential array-order sums exactly matching the oracle formula; used
  for small inputs (centroid probes).
- ``cosine_batch`` — Arrow pandas UDF, one numpy einsum per batch; the
  per-pair hot path. Its summation order differs from the oracle by
  ~1e-16 relative, absorbed by the round-6 output discipline (§2.0
  rule 2) — if a round-6 mismatch ever appears here, suspect a value
  sitting on a 5e-7 rounding boundary, not the math.

Scale posture: `llm_sim_knn` is the brute-force exact baseline (fine for a
query batch × corpus block); `llm_sim_knn_ivf` is the scale path — an
IVF-style two-stage search that prunes the corpus to the nearest centroid
cells before scoring, turning O(Q·N) into O(Q·N/cells·probes).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import (
    checkpoint,
    load,
    local_frame,
    scratch_dir,
)


def dot(a, b):
    """Sequential-order dot product of two double arrays (codegen-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a, b):
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


@pandas_udf(T.DoubleType())
def cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: numpy matrix math over the whole batch.

    Spark's higher-order lambdas evaluate interpreted per element (~64
    expression evals per row); this does one einsum per Arrow batch.
    Summation order differs from the sequential oracle formula by ~1e-16
    relative — absorbed by the round-6 output discipline (§2.0 rule 2).
    """
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(num / den)


SQL_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _vecs(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )


@register(
    "llm_sim_pairwise",
    "K",
    oracle=f"""
        WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
               ROUND({SQL_COSINE.format(a='a.emb', b='b.emb')}, 6) AS cos_sim
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    """,
    doc="All-pairs cosine within each label (equi component carries the shuffle).",
)
def llm_sim_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cosine_batch(F.col("a.emb"), F.col("b.emb")), 6).alias("cos_sim"),
        )
    )


@register(
    "llm_sim_knn",
    "K",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT * FROM v WHERE vec_id % 100 = 0)
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               ROUND({SQL_COSINE.format(a='q.emb', b='v.emb')}, 6) AS cos_sim
        FROM q JOIN v ON q.vec_id <> v.vec_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY ROUND({SQL_COSINE.format(a='q.emb', b='v.emb')}, 6) DESC,
                     v.vec_id ASC
        ) <= 5
    """,
    doc=(
        "Brute-force k-NN: top-5 cosine neighbors for each query vector "
        "(vec_id % 100 = 0), ranked on the ROUNDED similarity + vec_id "
        "tiebreak so ordering is cross-engine deterministic."
    ),
)
def llm_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_batch(F.col("q_emb"), F.col("emb")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def _kmeans_centroids(
    v: DataFrame, k: int = 8, iters: int = 3
) -> "np.ndarray":
    """Unsupervised spherical k-means coarse quantizer (Lloyd iterations
    on unit-normalized vectors, cosine assignment).

    Distributed shape: each iteration is ONE pass over the corpus — an
    Arrow-batched nearest-centroid assignment (numpy matmul per batch)
    followed by a posexplode + (cell, dim) mean whose map-side partial
    aggregation reduces every partition to ≤ k·d rows before the shuffle.
    Only the k×d centroid matrix (8×64 doubles) ever reaches the driver —
    O(k·d) per iteration regardless of corpus size, the same bounded-state
    pattern as llm_embed_pca. Seeds: the k lowest vec_ids (deterministic).
    """
    dims = 64
    seed_rows = (
        v.orderBy("vec_id").limit(k).select("emb").collect()
    )
    cent = np.stack([np.asarray(r.emb, dtype="float64") for r in seed_rows])
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    for _ in range(iters):
        assign = _nearest_cell_udf(cent)
        assigned = v.select(assign(F.col("emb")).alias("cell"), "emb")
        mean_rows = (
            assigned.select("cell", F.posexplode("emb").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new_cent = cent.copy()  # empty cells keep their previous centroid
        got = np.zeros(k, dtype=bool)
        for r in mean_rows:
            new_cent[r.cell, r.pos] = r.m
            got[r.cell] = True
        norms = np.linalg.norm(new_cent, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        cent = new_cent / norms
    return cent


def _nearest_cell_udf(cent_unit: "np.ndarray"):
    """Arrow-batched argmax-cosine assignment against a fixed (tiny)
    centroid matrix carried in the UDF closure."""
    C = cent_unit.T.copy()

    @pandas_udf(T.IntegerType())
    def nearest(emb: pd.Series) -> pd.Series:
        A = np.stack(emb.to_numpy())
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        return pd.Series(np.argmax(A @ C, axis=1).astype("int32"))

    return nearest


def _top_cells_udf(cent_unit: "np.ndarray", n_probe: int):
    """Arrow-batched top-n_probe cells per query (ties → lower cell id)."""
    C = cent_unit.T.copy()

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def top_cells(emb: pd.Series) -> pd.Series:
        A = np.stack(emb.to_numpy())
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        sims = A @ C
        # stable argsort on -sims → ties resolve to the lower cell id
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return top_cells


def _kmeans_cte(k: int = 8, iters: int = 3, dims: int = 64) -> str:
    """Shared DuckDB CTE chain reproducing _kmeans_centroids: centroids
    live as a (cell, pos, val) relation, each Lloyd iteration is one
    dot-product aggregate + QUALIFY argmax + per-(cell,pos) mean +
    renormalize, chained ``iters`` times. Ends at c{iters}; callers
    append their own terminal CTEs/SELECT."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
        dots{i} AS (
            SELECT vu.vec_id, c.cell, SUM(vu.u[c.pos] * c.val) AS dot
            FROM vu CROSS JOIN c{i - 1} c
            GROUP BY vu.vec_id, c.cell
        ),
        a{i} AS (
            SELECT vec_id, cell FROM dots{i}
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) = 1
        ),
        m{i} AS (
            SELECT a.cell, dd.d AS pos, AVG(v.emb[dd.d]) AS m
            FROM a{i} a JOIN v USING (vec_id)
            CROSS JOIN (SELECT UNNEST(generate_series(1, {dims})) AS d) dd
            GROUP BY a.cell, dd.d
        ),
        norm{i} AS (
            SELECT cell, sqrt(SUM(m * m)) AS n FROM m{i} GROUP BY cell
        ),
        c{i} AS (
            SELECT p.cell, p.pos,
                   CASE WHEN n.cell IS NULL THEN p.val
                        WHEN n.n = 0 THEN m.m
                        ELSE m.m / n.n END AS val
            FROM c{i - 1} p
            LEFT JOIN m{i} m ON m.cell = p.cell AND m.pos = p.pos
            LEFT JOIN norm{i} n ON n.cell = p.cell
        )""")
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        vu AS (
            SELECT vec_id,
                   list_transform(emb, x -> x / sqrt(list_dot_product(emb, emb)))
                       AS u
            FROM v
        ),
        seeds AS (
            SELECT u, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
            FROM vu ORDER BY vec_id LIMIT {k}
        ),
        c0 AS (
            SELECT cell, dd.d AS pos, u[dd.d] AS val
            FROM seeds
            CROSS JOIN (SELECT UNNEST(generate_series(1, {dims})) AS d) dd
        ),{",".join(steps)},
        dots_final AS (
            SELECT vu.vec_id, c.cell, SUM(vu.u[c.pos] * c.val) AS dot
            FROM vu CROSS JOIN c{iters} c
            GROUP BY vu.vec_id, c.cell
        )"""


def _kmeans_oracle(k: int = 8, iters: int = 3, dims: int = 64) -> str:
    """llm_embed_kmeans oracle: kmeans CTE chain + per-cell report."""
    return f"""
        {_kmeans_cte(k, iters, dims)},
        final AS (
            SELECT vec_id, cell, dot FROM dots_final
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) = 1
        )
        SELECT cell, COUNT(*)::BIGINT AS n_vecs, MIN(vec_id) AS min_vec_id,
               ROUND(AVG(dot), 4) AS mean_cos_to_centroid
        FROM final GROUP BY cell
    """


def _ivf_oracle(k: int = 8, iters: int = 3, dims: int = 64, probes: int = 3) -> str:
    """llm_sim_knn_ivf oracle: same centroid chain; corpus vectors keep
    their argmax cell, queries probe their top-``probes`` cells, fine
    scoring is exact round-6 cosine inside probed cells only — the
    identical pruning, so approximation error hash-matches too."""
    return f"""
        {_kmeans_cte(k, iters, dims)},
        corpus AS (
            SELECT vec_id, cell FROM dots_final
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) = 1
        ),
        qcells AS (
            SELECT vec_id AS query_id, cell FROM dots_final
            WHERE vec_id % 100 = 0
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) <= {probes}
        ),
        cand AS (
            SELECT q.query_id, c.vec_id AS neighbor_id
            FROM qcells q JOIN corpus c USING (cell)
            WHERE q.query_id <> c.vec_id
        )
        SELECT c.query_id, c.neighbor_id,
               ROUND({SQL_COSINE.format(a='qv.emb', b='nv.emb')}, 6) AS cos_sim
        FROM cand c
        JOIN v qv ON qv.vec_id = c.query_id
        JOIN v nv ON nv.vec_id = c.neighbor_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY c.query_id
            ORDER BY ROUND({SQL_COSINE.format(a='qv.emb', b='nv.emb')}, 6) DESC,
                     c.neighbor_id ASC
        ) <= 5
    """



@register(
    "llm_sim_knn_ivf",
    "K",
    oracle=_ivf_oracle(),
    doc=(
        "IVF ANN with an UNSUPERVISED coarse quantizer: 3 Lloyd "
        "iterations of spherical k-means (k=8) build the cell centroids "
        "— no label column anywhere. Corpus vectors are assigned to "
        "their nearest cell once; each query probes its 3 nearest cells "
        "and fine-scores only those vectors via an equi-join on cell id "
        "— O(Q·N·probes/k) instead of O(Q·N). At 100 TB the cell "
        "assignment is a write-once partition column and the probe join "
        "is a bucketed equi-join on it; k-means driver state is k·d "
        "floats per iteration (corpus-size independent). Oracle-tier: "
        "the DuckDB twin replays the identical quantizer + probe "
        "pruning, so even the APPROXIMATION ERROR hash-matches."
    ),
)
def llm_sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    cent = _kmeans_centroids(v, k=8, iters=3)

    corpus = v.select(
        _nearest_cell_udf(cent)(F.col("emb")).alias("cell"), "vec_id", "emb"
    )
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.explode(_top_cells_udf(cent, 3)(F.col("emb"))).alias("cell"),
    )
    # Fine search inside probed cells only (equi-join on cell id).
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        q.join(corpus, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_batch(F.col("q_emb"), F.col("emb")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "llm_sim_centroid",
    "K",
    oracle="""
        SELECT label, i AS dim,
               ROUND(CAST(SUM(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) / COUNT(*), 6) AS centroid_val
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) AS dims
        GROUP BY label, i
    """,
    doc="Per-label centroid: positional explode → mean per (label, dim).",
)
def llm_sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("centroid_val"))
    )


@register(
    "llm_vec_norm",
    "K",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), n AS (
            SELECT vec_id, emb,
                   sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS l2
            FROM v
        )
        SELECT vec_id,
               ROUND(l2, 6) AS l2_norm,
               ROUND(emb[1] / l2, 6) AS unit_first_dim,
               ROUND(list_aggregate(
                   list_transform(emb, x -> (x / l2) * (x / l2)), 'sum'), 4) AS unit_sq_sum
        FROM n
    """,
    doc="L2 norm + unit-normalization (unit_sq_sum ≈ 1 sanity column).",
)
def llm_vec_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(
        F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    n = e.select("vec_id", emb.alias("emb"), l2.alias("l2"))
    unit_sq_sum = F.aggregate(
        F.transform(F.col("emb"), lambda x: (x / F.col("l2")) * (x / F.col("l2"))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return n.select(
        "vec_id",
        F.round("l2", 6).alias("l2_norm"),
        F.round(F.element_at("emb", 1) / F.col("l2"), 6).alias("unit_first_dim"),
        F.round(unit_sq_sum, 4).alias("unit_sq_sum"),
    )


def _rademacher_planes(dim: int, n_planes: int = 16) -> "np.ndarray":
    """±1 hyperplane matrix derived from md5 of the dimension index —
    the engine-portable replacement for seeded Gaussian planes: sign-LSH
    only needs a symmetric coefficient distribution, and Rademacher
    weights from a cross-engine hash let the DuckDB oracle rebuild the
    identical planes (weight d,p = bit p of md5(str(d)) mapped to ±1)."""
    import hashlib

    w = np.empty((dim, n_planes), dtype=np.float64)
    for d in range(dim):
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)
        w[d] = ((h >> np.arange(n_planes)) & 1) * 2 - 1
    return w


@pandas_udf(T.LongType())
def lsh_sig16(emb: pd.Series) -> pd.Series:
    """16-bit hyperplane (SimHash-for-vectors) signature.

    Planes are the portable md5-derived Rademacher matrix — deterministic
    across runs, workers AND engines. One matmul per Arrow batch; bit i =
    sign of the projection onto plane i, packed into a long.
    """
    A = np.stack(emb.to_numpy())
    bits = (A @ _rademacher_planes(A.shape[1])) > 0
    return pd.Series((bits << np.arange(16)).sum(axis=1).astype("int64"))


@register(
    "llm_sim_knn_lsh",
    "K",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        dims AS (
            SELECT d, ('0x' || substr(md5((d - 1)::VARCHAR), 1, 15))::BIGINT AS h
            FROM (SELECT UNNEST(generate_series(1, 64)) AS d)
        ),
        proj AS (
            SELECT v.vec_id, pp.p,
                   SUM(v.emb[dims.d] * (((dims.h >> pp.p) & 1) * 2 - 1)) AS proj
            FROM v CROSS JOIN dims
            CROSS JOIN (VALUES {",".join(f"({p})" for p in range(16))}) pp(p)
            GROUP BY v.vec_id, pp.p
        ),
        sig AS (
            SELECT vec_id,
                   SUM(CASE WHEN proj > 0 THEN 1::BIGINT << p ELSE 0 END) AS sig
            FROM proj GROUP BY vec_id
        ),
        banded AS (
            SELECT s.vec_id, bb.band, (s.sig >> (4 * bb.band)) & 15 AS bval
            FROM sig s CROSS JOIN (VALUES (0),(1),(2),(3)) bb(band)
        ),
        cand AS (
            SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
            FROM banded qb
            JOIN banded cb ON qb.band = cb.band AND qb.bval = cb.bval
            WHERE qb.vec_id % 100 = 0 AND qb.vec_id <> cb.vec_id
        )
        SELECT c.query_id, c.neighbor_id,
               ROUND({SQL_COSINE.format(a='q.emb', b='n.emb')}, 6) AS cos_sim
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v n ON n.vec_id = c.neighbor_id
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY c.query_id
            ORDER BY ROUND({SQL_COSINE.format(a='q.emb', b='n.emb')}, 6) DESC,
                     c.neighbor_id ASC
        ) <= 5
    """,
    doc=(
        "LSH-bucketed ANN: 16-bit hyperplane signatures split into 4 "
        "bands x 4 bits; query and corpus vectors meet only inside shared "
        "(band, value) buckets, candidates are deduped and fine-scored "
        "with exact cosine, top-5 per query. The banding join replaces "
        "llm_sim_knn's O(Q*N) cross product with O(collisions) — the same "
        "plan shape runs at 100 TB as a shuffle hash join on (band, "
        "value) with no broadcast of the corpus. The md5-derived "
        "Rademacher planes are engine-portable, so the bucket assignment "
        "AND the ANN result hash-verify against DuckDB (oracle-tier; "
        "sign-boundary ambiguity would need |projection| < ~1e-12, "
        "essentially impossible for unit-scale embeddings)."
    ),
)
def llm_sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    n_bands, band_bits = 4, 4
    mask = (1 << band_bits) - 1

    def bands(df, id_alias):
        sig = df.withColumn("sig", lsh_sig16("emb"))
        band_vals = F.array(
            *[
                F.shiftrightunsigned("sig", band_bits * b).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ]
        )
        return sig.select(
            F.col("vec_id").alias(id_alias),
            F.col("emb").alias(f"{id_alias}_emb"),
            F.posexplode(band_vals).alias("band", "bval"),
        )

    q = bands(v.filter(F.col("vec_id") % 100 == 0), "query_id")
    c = bands(v, "neighbor_id")
    candidates = (
        q.join(c, ["band", "bval"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_id_emb", "neighbor_id", "neighbor_id_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_batch(F.col("query_id_emb"), F.col("neighbor_id_emb")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "llm_embed_quantize",
    "K",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), s AS (
            SELECT vec_id, emb,
                   list_aggregate(list_transform(emb, x -> abs(x)), 'max') AS amax
            FROM v
        ), q AS (
            SELECT vec_id, amax,
                   list_transform(emb, x -> FLOOR(x * 127.0 / amax + 0.5)) AS qv,
                   emb
            FROM s
        )
        SELECT vec_id,
               ROUND(amax, 6) AS abs_max,
               CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS INT)
                   AS q_abs_max,
               ROUND(sqrt(list_aggregate(
                   list_transform(
                       list_zip(emb, qv),
                       p -> (p[1] - p[2] * amax / 127.0)
                            * (p[1] - p[2] * amax / 127.0)),
                   'sum')), 6) AS recon_err_l2
        FROM q
    """,
    doc=(
        "Symmetric int8 quantization of embeddings: per-vector scale "
        "127/max|x|, quantize half-up via the pure-IEEE "
        "FLOOR(q + 0.5) form (round 5: Spark bround is half-EVEN while "
        "DuckDB round is half-AWAY - bround(2.5)=2 vs round(2.5)=3 - so "
        "the previous pairing was a latent tie bug; floor of the same "
        "double is one semantics in both engines, SURVEY 2.0 amendment "
        "13). 'Half-up' here means ties round toward +inf on BOTH "
        "signs: +63.5 -> +64 but -63.5 -> -63 - asymmetric about zero "
        "(unlike round-half-away), deterministic and cross-engine "
        "identical; both tie directions are pinned by "
        "test_embed_quantize_half_tie_cross_engine. Then dequantize "
        "and report the L2 reconstruction error. The "
        "4x-smaller int8 vectors are what a 100 TB ANN corpus actually "
        "stores; recon_err quantifies the recall cost."
    ),
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(emb, F.abs))
    base = e.select("vec_id", emb.alias("emb"), amax.alias("amax"))
    qv = F.transform(
        F.col("emb"),
        lambda x: F.floor(x * 127.0 / F.col("amax") + F.lit(0.5)).cast("double"),
    )
    quant = base.withColumn("qv", qv)
    err_sq = F.aggregate(
        F.zip_with(
            F.col("emb"),
            F.col("qv"),
            lambda x, q: (x - q * F.col("amax") / 127.0)
            * (x - q * F.col("amax") / 127.0),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return quant.select(
        "vec_id",
        F.round("amax", 6).alias("abs_max"),
        F.array_max(F.transform("qv", F.abs)).cast("int").alias("q_abs_max"),
        F.round(F.sqrt(err_sq), 6).alias("recon_err_l2"),
    )



@register(
    "llm_embed_pca",
    "K",
    doc=(
        "Distributed PCA for low-dimensional embeddings (d=64): ONE "
        "Arrow-batched pass accumulates per-partition raw integer "
        "moments (64x64 X^T X blocks + the 64 dim sums + row count - "
        "NOT a 4096x row explosion), one shuffle sums them, and the "
        "driver recombines the covariance via the exact identity "
        "n^2*C = n*Sxx - sx*sx^T before the tiny 64x64 eigensolve. This "
        "is the correct 100 TB shape when d is small: data-size work is "
        "a SINGLE map pass (round 6 fused the former separate mean "
        "pass - half the scans); driver work is O(d^3) regardless of "
        "corpus size. The accumulation is EXACT-INTEGER (round 5) - "
        "embeddings quantize to nano-units in a Spark expression, each "
        "Arrow batch computes X^T X on the 16-bit-split int64 "
        "components (qq/qr/rr partial matmuls, each overflow-proof by "
        "construction), and the driver recombines S = "
        "(Sqq<<32)+(Sqr<<16)+Srr in Python ints - so the covariance is "
        "bit-identical under ANY partitioning or executor count (the "
        "shuffle-invariance harness checks it), leaving the LAPACK "
        "eigensolve as the only non-relational step. Rows-tier with a "
        "measured impossibility note (SURVEY 2.0): the fixture spectrum "
        "has lambda2/lambda1 = 0.987, so a quantized power-method oracle "
        "needs ~900 unrolled iterations for 1e-5 agreement - the "
        "unrolled-trace discipline that converted kmeans/PQ does not "
        "reach it, and no fixed-depth relational program expresses "
        "eigh. Loadings are sign-normalized and rounded; verified "
        "against a direct numpy eigendecomposition in tests."
    ),
)
def llm_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    dims = 64
    # Nano-unit quantization happens ONCE, in a Spark expression.
    e = load(spark, sf_dir, "embeddings").select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1000000000.0), 0).cast("long"),
        ).alias("q")
    )

    # ONE pass (round 6; was mean pass + covariance pass): each Arrow
    # batch emits the raw integer moments — 16-bit-split X^T X blocks,
    # the per-dim sum vector (rows where j == 0 carry s_i), and the row
    # count (the i=0,j=0 row) — and the driver recombines them via the
    # exact raw-moment identity n²·C = n·Σxxᵀ − (Σx)(Σx)ᵀ in Python
    # ints. Still bit-identical under ANY partitioning (every shuffled
    # quantity is an exact integer sum), same 100 TB shape but half the
    # scans, and the mean is now exact-rational instead of the old
    # floored integer (strictly closer to the float reference).
    def partial_moments(batches):
        for pdf in batches:
            X = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            # 16-bit split: X = Q*2^16 + R with 0 <= R < 2^16 (arithmetic
            # shift floors, & takes the low bits - exact for negatives).
            # |x| <= ~1.3e9 nano-units, so |Q| <= 2e4 and each component
            # matmul stays far inside int64 for any batch size Arrow
            # will hand us (qq <= 4e8/row, rr <= 4.3e9/row).
            Q = X >> 16
            R = X & 0xFFFF
            sqq = Q.T @ Q
            sqr = Q.T @ R + R.T @ Q
            srr = R.T @ R
            s = X.sum(axis=0)  # <= batch_rows * 1.3e9 — inside int64
            i, j = np.indices((dims, dims))
            si = np.zeros((dims, dims), dtype=np.int64)
            si[:, 0] = s
            cnt = np.zeros((dims, dims), dtype=np.int64)
            cnt[0, 0] = len(X)
            yield pd.DataFrame(
                {
                    "i": i.ravel(),
                    "j": j.ravel(),
                    "sqq": sqq.ravel(),
                    "sqr": sqr.ravel(),
                    "srr": srr.ravel(),
                    "si": si.ravel(),
                    "cnt": cnt.ravel(),
                }
            )

    dec = lambda c: F.sum(F.col(c).cast("decimal(38,0)")).alias(c)
    cov_rows = (
        e.mapInPandas(
            partial_moments,
            "i int, j int, sqq long, sqr long, srr long, si long, cnt long",
        )
        .groupBy("i", "j")
        .agg(dec("sqq"), dec("sqr"), dec("srr"), dec("si"), dec("cnt"))
        .collect()
    )
    n_rows = 0
    s_vec = [0] * dims
    second = {}
    for r in cov_rows:
        second[(r.i, r.j)] = (int(r.sqq) << 32) + (int(r.sqr) << 16) + int(r.srr)
        if r.j == 0:
            s_vec[r.i] = int(r.si)
            if r.i == 0:
                n_rows = int(r.cnt)
    C = np.zeros((dims, dims))
    scale = 1e-18 / (n_rows * n_rows)  # nano^2 units -> covariance
    for (i, j), s_exact in second.items():
        C[i, j] = (n_rows * s_exact - s_vec[i] * s_vec[j]) * scale
    vals, vecs = np.linalg.eigh(C)
    v = vecs[:, -1]
    pivot = int(np.argmax(np.abs(v)))
    if v[pivot] < 0:
        v = -v
    share = float(vals[-1] / np.trace(C))
    return local_frame(
        spark,
        [(i + 1, round(float(v[i]), 6), round(share, 6)) for i in range(dims)],
        "dim int, loading double, explained_share double",
    )


@register(
    "llm_embed_kmeans",
    "K",
    oracle=_kmeans_oracle(),
    doc=(
        "Distributed k-means clustering surfaced as a first-class result: "
        "the same spherical-k-means quantizer llm_sim_knn_ivf uses (3 "
        "Lloyd iterations, Arrow-batched assignment, k·d driver state), "
        "reported per cluster as (cell, n_vecs, min_vec_id, "
        "mean_cos_to_centroid). Oracle-tier: the DuckDB twin unrolls the "
        "same 3 Lloyd iterations over a (cell, pos, val) centroid "
        "relation — deterministic seeds (k lowest vec_ids), argmax with "
        "the same lowest-cell tie rule, empty cells keeping their "
        "previous centroid. Double summation order differs ~1e-16 "
        "between engines; assignments would only diverge on a near-exact "
        "inter-centroid tie and the mean cosine is round-4, so the hash "
        "check is stable in practice (and strictly verified every round). "
        "The per-cell mean cosine is the cluster-coherence diagnostic a "
        "corpus-curation pipeline reads before trusting cluster-level "
        "sampling decisions."
    ),
)
def llm_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    cent = _kmeans_centroids(v, k=8, iters=3)

    C = cent  # rows are unit-normalized centroids
    CT = C.T.copy()

    @pandas_udf(T.DoubleType())
    def cos_to_own_cell(emb: pd.Series) -> pd.Series:
        A = np.stack(emb.to_numpy())
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        sims = A @ CT
        return pd.Series(sims.max(axis=1))

    assigned = v.select(
        _nearest_cell_udf(cent)(F.col("emb")).alias("cell"),
        "vec_id",
        cos_to_own_cell(F.col("emb")).alias("cos_own"),
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.avg("cos_own"), 4).alias("mean_cos_to_centroid"),
        )
    )


@register(
    "llm_index_persist",
    "K",
    oracle=_ivf_oracle(),
    doc=(
        "IVF index persistence — build once, serve many: the k-means "
        "assignment table is WRITTEN partitioned by cell (plus a "
        "centroids side table), then the query path reads the index back "
        "and probes 3 cells per query through the cell equi-join, never "
        "touching un-probed partitions (directory-level pruning at scan "
        "time; at 100 TB each cell is a file group and a query scans "
        "n_probe/k of the corpus). Same centroids and probe discipline "
        "as llm_sim_knn_ivf, so the same replayed-quantizer oracle "
        "applies — the hash check additionally proves the parquet "
        "persist/serve round-trip is lossless; tests assert the served "
        "top-5 equals the in-memory IVF exactly."
    ),
)
def llm_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("bdma_ivf_idx_")
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    cent = _kmeans_centroids(v, k=8, iters=3)

    # Build: assignments partitioned by cell + centroid side table.
    assign = v.select(
        _nearest_cell_udf(cent)(F.col("emb")).alias("cell"), "vec_id", "emb"
    )
    assign.write.mode("overwrite").partitionBy("cell").parquet(f"{base}/assignments")
    local_frame(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(cent)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{base}/centroids")

    # Serve: read the persisted index; only probed cells' partitions scan.
    idx = spark.read.schema(assign.schema).parquet(f"{base}/assignments")
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.explode(_top_cells_udf(cent, 3)(F.col("emb"))).alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        q.join(idx, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_batch(F.col("q_emb"), F.col("emb")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "llm_rag_retrieve",
    "K",
    oracle=f"""
        {_kmeans_cte()},
        corpus AS (
            SELECT vec_id, cell FROM dots_final
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) = 1
        ),
        qcells AS (
            SELECT vec_id AS query_id, cell FROM dots_final
            WHERE vec_id % 100 = 0
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dot DESC, cell ASC) <= 3
        ),
        cand AS (
            SELECT q.query_id, c.vec_id AS retrieved_id
            FROM qcells q JOIN corpus c USING (cell)
            WHERE q.query_id <> c.vec_id
        ),
        hits AS (
            SELECT c.query_id, c.retrieved_id,
                   ROUND({SQL_COSINE.format(a='qv.emb', b='nv.emb')}, 6)
                       AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.query_id
                       ORDER BY ROUND({SQL_COSINE.format(a='qv.emb', b='nv.emb')},
                                      6) DESC,
                                c.retrieved_id ASC
                   ) AS rank
            FROM cand c
            JOIN v qv ON qv.vec_id = c.query_id
            JOIN v nv ON nv.vec_id = c.retrieved_id
        )
        SELECT h.query_id, h.rank, h.retrieved_id, h.score,
               d.lang, substr(d.text, 1, 40) AS snippet
        FROM hits h JOIN documents d ON d.doc_id = h.retrieved_id
        WHERE h.rank <= 3
    """,
    doc=(
        "RAG retrieval end-to-end: query embeddings probe the IVF index "
        "(same spherical-k-means quantizer + 3-cell probe as "
        "llm_sim_knn_ivf), the top-3 hits per query join BACK to the "
        "documents table for language + a 40-char snippet — the "
        "embed→search→fetch composition a retrieval-augmented pipeline "
        "executes per request, here as one declarative plan (ANN "
        "equi-join + broadcast-able doc fetch join; at 100 TB the doc "
        "fetch is a point-lookup join against a bucketed docstore). "
        "Oracle-tier: the DuckDB twin replays quantizer, pruning, and "
        "fetch."
    ),
)
def llm_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    cent = _kmeans_centroids(v, k=8, iters=3)
    corpus = v.select(
        _nearest_cell_udf(cent)(F.col("emb")).alias("cell"), "vec_id", "emb"
    )
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.explode(_top_cells_udf(cent, 3)(F.col("emb"))).alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("retrieved_id").asc()
    )
    hits = (
        q.join(corpus, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("retrieved_id"),
            F.round(cosine_batch(F.col("q_emb"), F.col("emb")), 6).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("retrieved_id"),
        "lang",
        F.substring("text", 1, 40).alias("snippet"),
    )
    return hits.join(docs, "retrieved_id").select(
        "query_id", "rank", "retrieved_id", "score", "lang", "snippet"
    )


@register(
    "llm_knn_classifier",
    "K",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        q AS (SELECT * FROM v WHERE vec_id % 20 = 0),
        t AS (SELECT * FROM v WHERE vec_id % 20 != 0),
        top5 AS (
            SELECT q.vec_id AS query_id, q.label AS true_label,
                   t.label AS n_label
            FROM q JOIN t ON true
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY ROUND({SQL_COSINE.format(a='q.emb', b='t.emb')}, 6)
                             DESC,
                         t.vec_id ASC
            ) <= 5
        ),
        votes AS (
            SELECT query_id, true_label, n_label,
                   CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM top5 GROUP BY query_id, true_label, n_label
        )
        SELECT query_id, true_label,
               CAST(arg_max(n_label, n_votes * 1048576 - n_label) AS INT)
                   AS pred_label,
               CAST(MAX(n_votes) AS BIGINT) AS n_votes,
               arg_max(n_label, n_votes * 1048576 - n_label) = true_label
                   AS correct
        FROM votes GROUP BY query_id, true_label
    """,
    doc=(
        "k-NN CLASSIFIER with held-out evaluation: every 20th vector is "
        "a query classified by majority label over its 5 nearest train "
        "vectors (round-6 cosine, vec_id tiebreak — the llm_sim_knn "
        "ranking discipline), with the true label carried for accuracy "
        "audits. Majority election is ONE max_by over the injective "
        "score n_votes·2^20 − label (ties → smallest label; labels are "
        "single digits, far under the 2^20 precondition) — the "
        "composite-argmax trick the survival/argmax operators share. "
        "Declared exact-small-scale baseline like llm_sim_knn: the "
        "scored pair space is |queries|×|train| with the IVF/LSH "
        "operators as the stated 100 TB path; everything downstream of "
        "scoring is linear in queries."
    ),
)
def llm_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    q = v.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
    )
    t = v.filter(F.col("vec_id") % 20 != 0)
    scored = (
        F.broadcast(q)
        .join(t)
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            F.round(cosine_batch(F.col("q_emb"), F.col("emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    pick = F.col("n_votes") * 1048576 - F.col("n_label")
    return votes.groupBy("query_id", "true_label").agg(
        F.max_by("n_label", pick).cast("int").alias("pred_label"),
        F.max("n_votes").cast("bigint").alias("n_votes"),
        (F.max_by("n_label", pick) == F.col("true_label")).alias("correct"),
    )


@register(
    "llm_hard_negatives",
    "K",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        a AS (SELECT * FROM v WHERE vec_id % 25 = 0),
        scored AS (
            SELECT a.vec_id AS anchor_id, a.label,
                   v.vec_id AS other_id, v.label AS o_label,
                   (v.label = a.label) AS same,
                   ROUND({SQL_COSINE.format(a='a.emb', b='v.emb')}, 6)
                       AS cos_sim
            FROM a JOIN v ON a.vec_id <> v.vec_id
        ),
        best AS (
            SELECT anchor_id, label, same, other_id, cos_sim
            FROM scored
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY anchor_id, same
                ORDER BY cos_sim DESC, other_id ASC
            ) = 1
        )
        SELECT p.anchor_id, p.label,
               p.other_id AS pos_id, p.cos_sim AS pos_sim,
               n.other_id AS neg_id, n.cos_sim AS neg_sim,
               ROUND(p.cos_sim - n.cos_sim, 6) AS margin,
               p.cos_sim > n.cos_sim AS satisfied
        FROM (SELECT * FROM best WHERE same) p
        JOIN (SELECT * FROM best WHERE NOT same) n USING (anchor_id, label)
    """,
    doc=(
        "Triplet HARD-NEGATIVE MINING for contrastive/embedding "
        "training: every 25th vector is an anchor paired with its "
        "hardest positive (most-similar same-label vector) and hardest "
        "negative (most-similar different-label vector), plus the "
        "triplet margin and whether it is already satisfied — exactly "
        "the per-anchor record a hard-triplet sampler feeds the "
        "dataloader. One scored pass serves both sides via a "
        "(same-label?) flag and a single (anchor, side) window — no "
        "second pair scan. Ranking is round-6 cosine + id tiebreak "
        "(cross-engine total order). Declared exact-small baseline "
        "like llm_sim_knn; at 100 TB the candidate set comes from the "
        "IVF/LSH index instead of all pairs (same plan downstream)."
    ),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    a = v.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("emb").alias("a_emb"),
    )
    scored = (
        F.broadcast(a)
        .join(v, F.col("anchor_id") != F.col("vec_id"))
        .select(
            "anchor_id",
            F.col("a_label").alias("label"),
            F.col("vec_id").alias("other_id"),
            (F.col("label") == F.col("a_label")).alias("same"),
            F.round(cosine_batch(F.col("a_emb"), F.col("emb")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.col("cos_sim").desc(), F.col("other_id").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .transform(checkpoint, eager=False)
    )
    pos = best.filter(F.col("same")).select(
        "anchor_id", "label",
        F.col("other_id").alias("pos_id"), F.col("cos_sim").alias("pos_sim"),
    )
    neg = best.filter(~F.col("same")).select(
        "anchor_id", "label",
        F.col("other_id").alias("neg_id"), F.col("cos_sim").alias("neg_sim"),
    )
    return pos.join(neg, ["anchor_id", "label"]).select(
        "anchor_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
        (F.col("pos_sim") > F.col("neg_sim")).alias("satisfied"),
    )


@register(
    "llm_mmr_rerank",
    "K",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v
              WHERE vec_id % 100 = 0),
        cand AS (
            SELECT q.query_id, v.vec_id,
                   CAST(ROUND(({SQL_COSINE.format(a='q.q_emb', b='v.emb')})
                              * 1000000) AS BIGINT) AS rel_u
            FROM q JOIN v ON v.vec_id <> q.query_id
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY CAST(ROUND(({SQL_COSINE.format(a='q.q_emb', b='v.emb')})
                              * 1000000) AS BIGINT) DESC,
                         v.vec_id ASC) <= 8
        ),
        sims AS (
            SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
                   CAST(ROUND(({SQL_COSINE.format(a='av.emb', b='bv.emb')})
                              * 1000000) AS BIGINT) AS sim_u
            FROM cand a
            JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
            JOIN v av ON av.vec_id = a.vec_id
            JOIN v bv ON bv.vec_id = b.vec_id
        ),
        rest AS (
            SELECT * FROM cand
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel_u DESC, vec_id ASC) > 1
        ),
        s1 AS (
            SELECT query_id, vec_id AS s1_id, 7 * rel_u AS mmr1
            FROM cand
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel_u DESC, vec_id ASC) = 1
        ),
        c2 AS (
            SELECT r.query_id, r.vec_id, r.rel_u, sm.sim_u AS sim_s1,
                   7 * r.rel_u - 3 * sm.sim_u AS m2
            FROM rest r
            JOIN s1 ON s1.query_id = r.query_id
            JOIN sims sm ON sm.query_id = r.query_id
                        AND sm.a_id = r.vec_id AND sm.b_id = s1.s1_id
        ),
        s2 AS (
            SELECT query_id, vec_id AS s2_id, m2 FROM c2
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY m2 DESC, vec_id ASC) = 1
        ),
        c3 AS (
            SELECT c2.query_id, c2.vec_id,
                   7 * c2.rel_u - 3 * GREATEST(c2.sim_s1, sm2.sim_u) AS m3
            FROM c2
            JOIN s2 ON s2.query_id = c2.query_id AND c2.vec_id <> s2.s2_id
            JOIN sims sm2 ON sm2.query_id = c2.query_id
                         AND sm2.a_id = c2.vec_id AND sm2.b_id = s2.s2_id
        ),
        s3 AS (
            SELECT query_id, vec_id AS s3_id, m3 FROM c3
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY m3 DESC, vec_id ASC) = 1
        )
        SELECT query_id, 1 AS sel_rank, s1_id AS vec_id,
               CAST(mmr1 AS BIGINT) AS mmr_e7
        FROM s1
        UNION ALL
        SELECT query_id, 2, s2_id, CAST(m2 AS BIGINT) FROM s2
        UNION ALL
        SELECT query_id, 3, s3_id, CAST(m3 AS BIGINT) FROM s3
    """,
    doc=(
        "MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein, "
        "SIGIR 1998): from each query's top-8 cosine candidates, pick 3 "
        "results greedily by mmr = λ·rel − (1−λ)·max sim-to-selected "
        "(λ=0.7) — the diversity re-ranker between retrieval and "
        "generation in a RAG stack. Scores live in INTEGER units of "
        "10⁻⁷ (mmr_e7 = 7·rel_u − 3·sim_u over micro-unit cosines): a "
        "float λ-blend of two 6-decimal values lands exactly on "
        "7th-decimal .5 boundaries where the engines' rounding modes "
        "diverge — observed on the fixture — so the greedy trace ranks "
        "integers instead (§2.0 rule 2's integer-first discipline). "
        "The k=3 greedy recursion UNROLLS into 3 window-pick stages "
        "over the candidate×candidate similarity table (8² per query, "
        "constant); at 100 TB candidates come from the IVF index, same "
        "rerank tail. The DuckDB CTE chain replays the identical trace "
        "(the llm_bpe_train unrolled-oracle discipline)."
    ),
)
def llm_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    micro = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
    rel = (
        F.broadcast(q)
        .join(v, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "emb",
            micro(cosine_batch(F.col("q_emb"), F.col("emb"))).alias("rel_u"),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel_u").desc(), F.col("vec_id").asc()
    )
    # Materialized once: feeds the pair-sim self-join (twice), the pick
    # stages, and keeps the pandas-UDF cosine from re-running per branch.
    cand = (
        rel.withColumn("crank", F.row_number().over(w_rel))
        .filter(F.col("crank") <= 8)
        .transform(checkpoint)
    )
    a = cand.select(
        "query_id", F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb")
    )
    b = cand.select(
        "query_id", F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb")
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            micro(cosine_batch(F.col("a_emb"), F.col("b_emb"))).alias(
                "sim_u"
            ),
        )
        .transform(checkpoint)
    )
    slim = cand.select("query_id", "vec_id", "rel_u", "crank")
    s1 = slim.filter(F.col("crank") == 1).select(
        "query_id",
        F.col("vec_id").alias("s1_id"),
        (7 * F.col("rel_u")).alias("mmr1"),
    )
    sims_s1 = sims.join(
        s1.select("query_id", "s1_id"),
        (sims.query_id == s1.query_id) & (sims.b_id == F.col("s1_id")),
    ).select(sims.query_id, "a_id", F.col("sim_u").alias("sim_s1"))
    c2 = (
        slim.filter(F.col("crank") > 1)
        .join(
            sims_s1,
            (slim.query_id == sims_s1.query_id)
            & (slim.vec_id == sims_s1.a_id),
        )
        .select(
            slim.query_id,
            "vec_id",
            "rel_u",
            "sim_s1",
            (7 * F.col("rel_u") - 3 * F.col("sim_s1")).alias("m2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("m2").desc(), F.col("vec_id").asc()
    )
    c2r = c2.withColumn("rn2", F.row_number().over(w2)).transform(checkpoint)
    s2 = c2r.filter(F.col("rn2") == 1).select(
        "query_id", F.col("vec_id").alias("s2_id"), F.col("m2").alias("mmr2")
    )
    sims_s2 = sims.join(
        s2.select("query_id", "s2_id"),
        (sims.query_id == s2.query_id) & (sims.b_id == F.col("s2_id")),
    ).select(sims.query_id, F.col("a_id").alias("a2_id"), F.col("sim_u").alias("sim_s2"))
    c3 = (
        c2r.join(
            s2.select(F.col("query_id").alias("q3"), "s2_id"),
            (c2r.query_id == F.col("q3")) & (c2r.vec_id != F.col("s2_id")),
        )
        .join(
            sims_s2,
            (c2r.query_id == sims_s2.query_id)
            & (c2r.vec_id == sims_s2.a2_id),
        )
        .select(
            c2r.query_id,
            "vec_id",
            (
                7 * F.col("rel_u")
                - 3 * F.greatest(F.col("sim_s1"), F.col("sim_s2"))
            ).alias("m3"),
        )
    )
    w3 = Window.partitionBy("query_id").orderBy(
        F.col("m3").desc(), F.col("vec_id").asc()
    )
    s3 = (
        c3.withColumn("rn3", F.row_number().over(w3))
        .filter(F.col("rn3") == 1)
        .select("query_id", F.col("vec_id").alias("s3_id"), F.col("m3").alias("mmr3"))
    )
    return (
        s1.select(
            "query_id",
            F.lit(1).alias("sel_rank"),
            F.col("s1_id").alias("vec_id"),
            F.col("mmr1").cast("bigint").alias("mmr_e7"),
        )
        .unionAll(
            s2.select(
                "query_id",
                F.lit(2).alias("sel_rank"),
                F.col("s2_id").alias("vec_id"),
                F.col("mmr2").cast("bigint").alias("mmr_e7"),
            )
        )
        .unionAll(
            s3.select(
                "query_id",
                F.lit(3).alias("sel_rank"),
                F.col("s3_id").alias("vec_id"),
                F.col("mmr3").cast("bigint").alias("mmr_e7"),
            )
        )
    )


def _pq_iter_sql(i: int, prev_cent: str) -> str:
    """One unrolled PQ Lloyd iteration (assign + quantized means +
    empty-cell carry) as DuckDB CTE steps ending at cent{i}."""
    return f"""
        terms{i} AS (
            SELECT v.vec_id, v.s, c.cell,
                   CAST(ROUND((v.val - c.cval) * (v.val - c.cval), 12)
                        AS DECIMAL(38,12)) AS t
            FROM pq_vals v JOIN {prev_cent} c
              ON c.s = v.s AND c.pos = v.pos
        ),
        d2_{i} AS (
            SELECT vec_id, s, cell, SUM(t) AS d2
            FROM terms{i} GROUP BY 1, 2, 3
        ),
        asg{i} AS (
            SELECT vec_id, s, cell FROM d2_{i}
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d2 ASC, cell ASC) = 1
        ),
        means{i} AS (
            SELECT v.s, a.cell, v.pos,
                   ROUND(CAST(SUM(CAST(ROUND(v.val, 9) AS DECIMAL(28,9)))
                              AS DOUBLE) / COUNT(*), 6) AS cval
            FROM asg{i} a
            JOIN pq_vals v ON v.vec_id = a.vec_id AND v.s = a.s
            GROUP BY 1, 2, 3
        ),
        cent{i} AS (
            SELECT c.s, c.cell, c.pos, COALESCE(m.cval, c.cval) AS cval
            FROM {prev_cent} c
            LEFT JOIN means{i} m
              ON m.s = c.s AND m.cell = c.cell AND m.pos = c.pos
        )"""


@register(
    "llm_embed_pq",
    "K",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        pq_vals AS (
            SELECT vec_id, s, pos, emb[s * 8 + pos] AS val
            FROM v
            CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS s)
            CROSS JOIN (SELECT UNNEST(generate_series(1, 8)) AS pos)
        ),
        seeds AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
            FROM v QUALIFY cell < 16
        ),
        cent0 AS (
            SELECT p.s, sd.cell, p.pos, ROUND(p.val, 6) AS cval
            FROM seeds sd JOIN pq_vals p ON p.vec_id = sd.vec_id
        ),
        {_pq_iter_sql(1, 'cent0')},
        {_pq_iter_sql(2, 'cent1')},
        terms3 AS (
            SELECT v.vec_id, v.s, c.cell,
                   CAST(ROUND((v.val - c.cval) * (v.val - c.cval), 12)
                        AS DECIMAL(38,12)) AS t
            FROM pq_vals v JOIN cent2 c
              ON c.s = v.s AND c.pos = v.pos
        ),
        d2_3 AS (
            SELECT vec_id, s, cell, SUM(t) AS d2
            FROM terms3 GROUP BY 1, 2, 3
        ),
        asg3 AS (
            SELECT vec_id, s, cell, d2 FROM d2_3
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id, s ORDER BY d2 ASC, cell ASC) = 1
        )
        SELECT vec_id,
               string_agg(cell, '-' ORDER BY s) AS pq_code,
               ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS recon_err
        FROM asg3 GROUP BY vec_id
    """,
    doc=(
        "PRODUCT QUANTIZATION (Jégou, Douze, Schmid — TPAMI 2011): the "
        "64-d embedding splits into 8 contiguous 8-d subspaces, each "
        "with its own 16-centroid codebook trained by 2 Lloyd "
        "iterations; a vector compresses to 8 codebook ids (4 bits "
        "each → 64-d float32 becomes 8 bytes, the 32× compression ANN "
        "serving relies on) plus its reconstruction error. The trainer "
        "is FULLY RELATIONAL — (vec, subspace, pos, val) explode, "
        "distance terms ROUND→DECIMAL(38,12) (order-invariant sums), "
        "argmin by (d2, cell) total order, per-(s,cell,pos) means "
        "quantized to 6 dp before the next assignment, empty cells "
        "carrying the previous centroid — so the DuckDB twin replays "
        "the IDENTICAL 2-iteration trace (the llm_bpe unrolled-oracle "
        "discipline; a float centroid chain would diverge in ulps). "
        "Driver state: the 128-row codebook only (8 subspaces × 16 "
        "cells — bounded model state, the same audited pattern as "
        "llm_embed_kmeans' k×64 centroid collect), re-broadcast per "
        "iteration; assignment is MAP-SIDE (each (vec, subspace) row "
        "scans the broadcast codebook and takes the (d2, cell) "
        "struct-min in exact long picounits — no shuffle, no window). "
        "At 100 TB the assignment becomes the _nearest_cell_udf Arrow "
        "closure over the same broadcast codebook "
        "(llm_sim_knn_ivf's pattern); the relational form is the "
        "oracle-parity trainer. Complements llm_embed_quantize "
        "(scalar) and llm_sim_knn_ivf (coarse cells): PQ is the "
        "fine-grained residual compressor of the IVF-PQ stack."
    ),
)
def llm_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Assignment is MAP-SIDE: each (vec, subspace) row scans all 16
    # candidate centroids from the broadcast codebook and takes the
    # (d2, cell) struct-min — no shuffle, no window (the exploded
    # (s, pos, cell) relational form was n·1024 rows + a groupBy + a
    # window PER ITERATION: 13.4 s at sf0.1; this form ~4 s). The
    # decimal trace is IDENTICAL to the oracle's: per-term round(Δ²,12)
    # accumulated as exact long picounits (round(Δ²,12) is an integer
    # multiple of 1e-12 and ×1e12 stays within 0.5 ulp of that integer,
    # so round-to-nearest recovers it exactly; positive scaling keeps
    # the (d2, cell) total order), converted back through one exact
    # decimal division at the output. The codebook lives on the driver
    # between iterations — 128 rows of bounded model state (the
    # llm_embed_kmeans collect pattern), never per-row data.
    v = _vecs(spark, sf_dir).select("vec_id", "emb")
    par = max(spark.sparkContext.defaultParallelism, 2)
    subv = (
        v.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
            "emb",
        )
        .select("vec_id", "s", F.expr("slice(emb, s * 8 + 1, 8)").alias("sub"))
        # Explicit partition count: the fixture parquet scan yields 1-2
        # partitions, which would run every interpreted assignment
        # lambda near-serial (and AQE would coalesce a count-free
        # repartition right back). Hashing by vec_id also pre-shuffles
        # for the final per-vector groupBy.
        .repartition(par, "vec_id")
        .transform(checkpoint)
    )
    # Seed codebook: the 16 lowest vec_ids, each vector's 8 subspace
    # slices rounded Spark-side (F.round half-up — python round() is
    # banker's and would diverge on .5 boundaries).
    seed_rows = (
        v.orderBy("vec_id")
        .limit(16)
        .select(
            "vec_id",
            F.transform(F.col("emb"), lambda x: F.round(x, 6)).alias("emb6"),
        )
        .collect()
    )
    codebook = {}
    for cell, row in enumerate(sorted(seed_rows, key=lambda r: r.vec_id)):
        for s in range(8):
            codebook[(s, cell)] = list(row.emb6[s * 8 : s * 8 + 8])

    def cells_df():
        # Literal VALUES relation, not a parallelized local collection:
        # the codebook broadcast happens 3x per run (2 Lloyd iterations
        # + final assignment) and a LocalRelation materializes driver-
        # side with no 32-slice job (measured 0.38 -> 0.15 s each at
        # local[32], r6). repr() round-trips any double bit-exactly and
        # Spark's `<lit>D` literal parses it back to the same bits —
        # for FINITE doubles only (repr gives `inf`/`nan`, which the
        # `D` suffix can't parse), so guard: centroids are means of
        # 6-dp-rounded fixture floats and can't be non-finite unless
        # the input is corrupt (ADVICE r6).
        rows = []
        for s in range(8):
            for c in range(16):
                assert all(math.isfinite(x) for x in codebook[(s, c)]), (
                    f"non-finite centroid in PQ codebook cell ({s},{c}); "
                    "repr()+'D' literals only round-trip finite doubles"
                )
            cells = ", ".join(
                "named_struct('cell', {c}, 'carr', array({a}))".format(
                    c=c,
                    a=", ".join(repr(x) + "D" for x in codebook[(s, c)]),
                )
                for c in range(16)
            )
            rows.append(f"({s}, array({cells}))")
        return spark.sql(
            "SELECT col1 AS s, col2 AS cells FROM VALUES " + ", ".join(rows)
        )

    def assign() -> DataFrame:
        best = F.array_min(
            F.transform(
                F.col("cells"),
                lambda cc: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("sub"),
                            cc["carr"],
                            lambda a, b: F.round(
                                F.round((a - b) * (a - b), 12)
                                * F.lit(1000000000000.0),
                                0,
                            ).cast("long"),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    cc["cell"].alias("cell"),
                ),
            )
        )
        return (
            subv.join(F.broadcast(cells_df()), "s")
            .withColumn("_w", best)
            .select(
                "vec_id",
                "s",
                F.col("_w.cell").alias("cell"),
                F.col("_w.d2").alias("d2"),
                "sub",
            )
        )

    # r12 measured rejection (do not retry): replacing this posexplode +
    # narrow 3-key aggregate with a column-form groupBy(s, cell) of 8
    # positional decimal sums (8× fewer agg input rows, no Generate) ran
    # 1.454 → 1.637 s median, 1/7 interleaved wins — the eight per-column
    # sub[p]-extract+round+decimal-sum aggregates cost more than the
    # generate + single-column sum they replace. The THREE passes over
    # the checkpointed subv (2 Lloyd iterations + final assignment) are
    # algorithm-inherent: iteration t+1's map-side assignment needs
    # iteration t's collected means as literals — a strict driver-side
    # dependency the declared 2-iteration oracle trace fixes.
    for _ in range(2):
        mean_rows = (
            assign()
            .select("s", "cell", F.posexplode("sub").alias("pos0", "val"))
            .groupBy("s", "cell", "pos0")
            .agg(
                F.round(
                    F.sum(F.round("val", 9).cast("decimal(28,9)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("mval")
            )
            .collect()  # ≤1024 rows of codebook state
        )
        fresh = {}
        for r in mean_rows:
            fresh.setdefault((r.s, r.cell), {})[r.pos0] = r.mval
        for key, by_pos in fresh.items():
            # winners always carry all 8 positions; absent keys are
            # empty cells, which keep the previous centroid.
            codebook[key] = [by_pos[p] for p in range(8)]
    final = assign()
    return final.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "cell"))),
                lambda x: x.cell.cast("string"),
            ),
        ).alias("pq_code"),
        # Exact decimal division restores the 10^-12 scale before the one
        # decimal→double conversion the oracle also performs.
        F.round(
            (
                F.sum("d2").cast("decimal(26,0)")
                / F.lit(1000000000000).cast("decimal(13,0)")
            ).cast("double"),
            6,
        ).alias("recon_err"),
    )
