"""Category K (multimodal) — opaque-binary media columns with typed
metadata (task mandate: multimodal columns for training-data pipelines).

Design: media travels as a `binary` payload column + typed metadata struct
flattened to columns. Decode / feature-extract run as Arrow-batched
`mapInPandas` transforms so each batch is a contiguous block of payloads —
the exact shape a real image/audio decoder wants.

The payload is a REAL image format: each document's bytes are laid out as
a valid binary PGM (Netpbm "P5", one gray byte per pixel — the standard
uncompressed raster interchange format), 32 pixels wide, space-padded to a
whole row. The encode happens JVM-side (binary concat of header + pixel
bytes, zero Python), and `decode_image_batch` is a genuine pure-Python
PGM parser: it reads the magic/width/height/maxval header and computes
luma statistics from the actual pixel payload with numpy. Swapping in a
compressed codec (JPEG via PIL, etc.) changes ONE function body — the
schema, partitioning, and Arrow batch shape stay identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import checkpoint, load

PGM_WIDTH = 32

def round6(v: float) -> float:
    """Half-up round to 6 decimals as FLOOR(v*1e6 + 0.5)/1e6 — pure IEEE
    double ops, bit-identical to the oracle's identical expression text.
    Library rounds are engine-flavored and disagree near boundaries even
    on IDENTICAL doubles: Python's builtin round() is banker's (sent the
    exactly-representable mean_luma 45/128 = .3515625 DOWN where SQL
    ROUND goes up — caught by the sf0.1 sweep), DuckDB ROUND multiplies
    by 1e6 and std::rounds (inheriting the multiply's last-ulp error),
    and Spark ROUND rounds the shortest decimal repr. The floor form has
    ONE semantics everywhere because every step is a correctly-rounded
    IEEE op on the same input; the oracles use the same text. Inputs
    here are non-negative (floor(x+0.5) is half-toward-+inf)."""
    import math

    return math.floor(v * 1000000.0 + 0.5) / 1000000.0


def parse_pgm(b: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse one binary PGM (P5): returns (width, height, maxval, raster)
    with raster shaped (height, width); malformed payloads raise
    ValueError (fail loud — a silent default poisons training data)."""
    if not b.startswith(b"P5"):
        raise ValueError(f"not a binary PGM payload: {b[:16]!r}")
    # Header: P5 <ws> width <ws> height <ws> maxval <single ws> raster
    fields: list[bytes] = []
    pos = 2
    while len(fields) < 3:
        while b[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(b[start:pos])
    pos += 1  # the single whitespace byte that terminates the header
    w, h, maxval = (int(f) for f in fields)
    raster = np.frombuffer(b, dtype=np.uint8, count=w * h, offset=pos)
    if raster.size != w * h:
        raise ValueError(f"PGM raster truncated: {raster.size} != {w}x{h}")
    return w, h, maxval, raster.reshape(h, w)


def decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """Pure-Python binary PGM (P5) decoder.

    Parses the Netpbm header and computes pixel statistics from the
    raster bytes. Returns a DataFrame with columns (width:int32,
    height:int32, mean_luma:float64) aligned to the input index.
    """
    widths, heights, lumas = [], [], []
    for b in payloads:
        w, h, maxval, raster = parse_pgm(b)
        widths.append(w)
        heights.append(h)
        lumas.append(round6(float(raster.mean()) / maxval))
    return pd.DataFrame(
        {
            "width": pd.array(widths, dtype="int32"),
            "height": pd.array(heights, dtype="int32"),
            "mean_luma": lumas,
        },
        index=payloads.index,
    )


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as a multimodal table: each document's bytes laid
    out as a valid binary PGM image (PGM_WIDTH px wide, space-padded to a
    whole row), plus typed metadata columns.

    The encode is all JVM-side binary concat — header string + pixel bytes
    + pad — so building a 100 TB media column is a map-only codegen pass.
    """
    d = load(spark, sf_dir, "documents")
    pix = F.encode("text", "UTF-8")
    n = F.octet_length(pix)
    h = F.ceil(n / PGM_WIDTH).cast("int")
    pad = (h * PGM_WIDTH - n).cast("int")
    header = F.concat(
        F.lit(f"P5\n{PGM_WIDTH} "), h.cast("string"), F.lit("\n255\n")
    )
    payload = F.concat(
        F.encode(header, "UTF-8"), pix, F.encode(F.repeat(F.lit(" "), pad), "UTF-8")
    )
    return d.filter(n > 0).select(
        "doc_id",
        payload.alias("payload"),
        F.lit("image/x-portable-graymap").alias("media_type"),
        F.octet_length(payload).alias("byte_len"),
    )


# Shared oracle CTEs: document bytes + PGM geometry + per-doc byte sums.
# DuckDB has no substring-on-BLOB, so byte access goes through hex(blob)
# (2 hex chars per byte) — exact, and every arithmetic step below stays
# in exact integers until a final division, so the doubles are
# bit-identical to numpy's (integer sums of dyadic rationals are exact
# in IEEE754 at these sizes; see each operator's docstring).
_MM_BYTES_CTE = """
        d AS (
            SELECT doc_id, encode(text) AS b, octet_length(encode(text)) AS n
            FROM documents WHERE octet_length(encode(text)) > 0
        ),
        geom AS (
            SELECT doc_id, n, CAST(ceil(n / 32.0) AS INT) AS h FROM d
        ),
        bytes AS (
            SELECT d.doc_id, ('0x' || substr(hex(d.b), 2 * gs.i - 1, 2))::BIGINT AS v
            FROM d, LATERAL (SELECT UNNEST(generate_series(1, d.n)) AS i) gs
        ),
        sums AS (SELECT doc_id, SUM(v) AS s FROM bytes GROUP BY doc_id)"""

# Decoded features as a reusable CTE tail (mm_decode_features output).
_MM_FEATURES_SQL = """
        SELECT g.doc_id,
               'image/x-portable-graymap' AS media_type,
               CAST(11 + length(CAST(g.h AS VARCHAR)) + g.h * 32 AS INT)
                   AS byte_len,
               32 AS width, g.h AS height,
               CAST(FLOOR(((su.s + 32 * (g.h * 32 - g.n))::DOUBLE / (g.h * 32))
                     / 255 * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_luma
        FROM geom g JOIN sums su USING (doc_id)"""


@register(
    "mm_decode_features",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE}
        {_MM_FEATURES_SQL}
    """,
    doc=(
        "Multimodal decode pipeline: binary PGM payload → mapInPandas "
        "batch decode (real pure-Python Netpbm parser + numpy pixel "
        "stats) → typed feature columns. Map-only: decode is "
        "embarrassingly parallel, no shuffle anywhere. Oracle-tier: the "
        "pixels ARE the document's UTF-8 bytes plus space padding, so "
        "DuckDB re-derives every feature from hex(blob) byte arithmetic "
        "— integer byte sums make the mean-luma doubles bit-identical "
        "to numpy's; tests additionally recompute every feature from "
        "the raw bytes with numpy and require exact equality."
    ),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_table(spark, sf_dir)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = decode_image_batch(pdf["payload"])
            out = pdf[["doc_id", "media_type", "byte_len"]].copy()
            out[["width", "height", "mean_luma"]] = feats
            yield out

    return media.mapInPandas(decode, MEDIA_SCHEMA)


@register(
    "mm_binary_meta",
    "K",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   'P5\n{PGM_WIDTH} ' ||
                   CAST(CAST(ceil(octet_length(encode(text)) / {PGM_WIDTH}.0) AS BIGINT) AS VARCHAR)
                   || '\n255\n' || text ||
                   repeat(' ', CAST(ceil(octet_length(encode(text)) / {PGM_WIDTH}.0) AS INT) * {PGM_WIDTH}
                               - octet_length(encode(text))) AS payload
            FROM documents
            WHERE octet_length(encode(text)) > 0
        )
        SELECT doc_id,
               CAST(octet_length(encode(payload)) AS INT) AS byte_len,
               md5(payload) AS payload_md5,
               (octet_length(encode(payload)) > 256) AS is_large
        FROM m
    """,
    doc=(
        "Opaque-binary metadata path: byte length + content hash + size "
        "flag computed on the PGM payload column — all JVM-side. The "
        "oracle rebuilds the identical PGM bytes in SQL, so the hash "
        "verifies the encoder byte-for-byte."
    ),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "byte_len",
        F.md5("payload").alias("payload_md5"),
        (F.col("byte_len") > 256).alias("is_large"),
    )


@register(
    "mm_frame_sample",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        m AS (
            SELECT g.doc_id,
                   hex(encode('P5\n32 ' || CAST(g.h AS VARCHAR) || '\n255\n'))
                   || hex(d.b) || repeat('20', g.h * 32 - g.n) AS hx,
                   11 + length(CAST(g.h AS VARCHAR)) + g.h * 32 AS len
            FROM geom g JOIN d USING (doc_id)
        )
        SELECT m.doc_id,
               CAST(gs.fi AS INT) AS frame_idx,
               substr(m.hx, 256 * gs.fi + 1, 256) AS frame_hex
        FROM m, LATERAL (
            SELECT UNNEST(generate_series(0, CAST(ceil(m.len / 128.0) AS INT) - 1))
                AS fi
        ) gs
    """,
    doc=(
        "Frame-sampling plumbing for video-like payloads: each payload "
        "yields ceil(byte_len/128) pseudo-frames via posexplode — the "
        "fan-out schema (media_id, frame_idx, frame_bytes) a real "
        "frame sampler produces. The terminal select hex-encodes the "
        "frame bytes: pandas renders Spark binary as ``bytes`` but "
        "DuckDB blobs as ``bytearray``, so raw-binary outputs can never "
        "hash-compare cross-engine — hex carries the full content "
        "deterministically (oracle-tier; the binary slicing itself is "
        "what's verified, byte-for-byte)."
    ),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_table(spark, sf_dir)
    n_frames = F.ceil(F.col("byte_len") / 128).cast("int")
    frames = media.select(
        "doc_id",
        "byte_len",
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_f"),
        F.col("payload"),
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.hex(
            F.substring(F.col("payload"), F.col("frame_idx") * 128 + 1, 128)
        ).alias("frame_hex"),
    )


@register(
    "llm_multimodal_wide",
    "K",
    oracle="""
        SELECT d.doc_id, d.lang, d.n_chars,
               CAST(len(string_split_regex(lower(d.text), '\\s+')) AS INT) AS n_tokens,
               e.label,
               ROUND(sqrt(list_aggregate(
                   list_transform(e.embedding::DOUBLE[], x -> x * x), 'sum')), 6) AS emb_l2
        FROM documents d
        JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    doc="Multimodal wide row: text stats + vector stats in one relation.",
)
def llm_multimodal_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(
        F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    from big_data_management_and_analytics_spark.functions.strings import tokens

    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            "label",
            F.round(l2, 6).alias("emb_l2"),
        )
    )


@register(
    "mm_luma_histogram",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        feats AS (
        {_MM_FEATURES_SQL}
        )
        SELECT CAST(LEAST(FLOOR(mean_luma * 20), 19) AS INT) AS luma_bin,
               CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(32::BIGINT * height) AS BIGINT) AS total_pixels
        FROM feats
        GROUP BY 1
    """,
    doc=(
        "Corpus-level decoded-feature distribution: the PGM decode "
        "pipeline's mean_luma binned into 20 buckets with image counts "
        "and pixel-area sums — the dataset-curation dashboard aggregate "
        "(brightness skew detection) over decoded media features. "
        "Oracle-tier via the same byte-arithmetic decode CTE as "
        "mm_decode_features; bin counts and areas are integers, so the "
        "result is partition-order exact."
    ),
)
def mm_luma_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = mm_decode_features(spark, sf_dir)
    bin_ = F.least(F.floor(F.col("mean_luma") * 20), F.lit(19)).cast("int")
    return (
        feats.select(
            bin_.alias("luma_bin"),
            (F.col("width").cast("long") * F.col("height")).alias("area"),
        )
        .groupBy("luma_bin")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("area").alias("total_pixels"),
        )
    )


RESIZE_W = RESIZE_H = 8


def resize_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """Nearest-neighbor downscale of binary PGM payloads to 8×8, re-encoded
    as valid PGM. Deterministic integer index map (i*src)//dst — the same
    pixels regardless of partitioning or platform."""
    outs, means = [], []
    for b in payloads:
        w, h, maxval, raster = parse_pgm(b)
        ys = (np.arange(RESIZE_H) * h) // RESIZE_H
        xs = (np.arange(RESIZE_W) * w) // RESIZE_W
        small = raster[np.ix_(ys, xs)]
        outs.append(b"P5\n%d %d\n%d\n" % (RESIZE_W, RESIZE_H, maxval) + small.tobytes())
        means.append(round6(float(small.mean()) / maxval))
    return pd.DataFrame(
        {"payload_small": outs, "mean_luma_small": means}, index=payloads.index
    )


@register(
    "mm_resize",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        pix AS (
            SELECT g.doc_id, g.h, g.n, pp.p,
                   substr(hex(d.b) || repeat('20', g.h * 32 - g.n),
                          2 * ((((pp.p // 8) * g.h) // 8) * 32
                               + ((pp.p % 8) * 32) // 8) + 1,
                          2) AS phex
            FROM geom g JOIN d USING (doc_id)
            CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS p) pp
        ),
        agg AS (
            SELECT doc_id,
                   MIN(11 + length(CAST(h AS VARCHAR)) + h * 32) AS byte_len_orig,
                   string_agg(phex, '' ORDER BY p) AS small_hex,
                   SUM(('0x' || phex)::BIGINT) AS tot
            FROM pix GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(byte_len_orig AS INT) AS byte_len_orig,
               hex(encode('P5\n8 8\n255\n')) || small_hex AS payload_small_hex,
               8 AS width, 8 AS height,
               CAST(FLOOR((tot::DOUBLE / 64) / 255 * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS mean_luma_small
        FROM agg
    """,
    doc=(
        "Multimodal resize pipeline (mandate: decode / feature-extract / "
        "RESIZE / frame-sample): each PGM payload is decoded, downscaled "
        "to 8×8 by deterministic nearest-neighbor indexing ((i*src)//dst "
        "— partition- and platform-invariant), and re-encoded as a valid "
        "PGM binary with its resized luma. Map-only mapInPandas, no "
        "shuffle; swapping in a real interpolating resampler (PIL/cv2) "
        "changes one function body. Oracle-tier: DuckDB replays the "
        "integer index map over hex(blob) and re-assembles the resized "
        "PGM with from_hex, so the output BYTES hash-match; tests also "
        "re-derive every raster with numpy and require byte equality."
    ),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_table(spark, sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("byte_len_orig", T.IntegerType()),
            T.StructField("payload_small", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_luma_small", T.DoubleType()),
        ]
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            small = resize_image_batch(pdf["payload"])
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len_orig": pdf["byte_len"].astype("int32"),
                    "payload_small": small["payload_small"],
                    "width": pd.array([RESIZE_W] * len(pdf), dtype="int32"),
                    "height": pd.array([RESIZE_H] * len(pdf), dtype="int32"),
                    "mean_luma_small": small["mean_luma_small"],
                }
            )
            yield out

    # Terminal hex of the resized PGM: raw binary cannot hash-compare
    # cross-engine (pandas bytes vs DuckDB bytearray reprs); hex carries
    # the identical bytes deterministically. The binary pipeline itself
    # (mapInPandas producing a real PGM) is unchanged and byte-asserted
    # in tests.
    return media.mapInPandas(resize, out_schema).select(
        "doc_id",
        "byte_len_orig",
        F.hex("payload_small").alias("payload_small_hex"),
        "width",
        "height",
        "mean_luma_small",
    )


def parse_pcm(b: bytes) -> tuple[int, np.ndarray]:
    """Parse the fixture's PCM16 payload: 8-byte ASCII header 'PCM16 ' +
    sample-rate digits + '\\n', then little-endian int16 samples."""
    if not b.startswith(b"PCM16 "):
        raise ValueError(f"not a PCM16 payload: {b[:16]!r}")
    nl = b.index(b"\n")
    rate = int(b[6:nl])
    samples = np.frombuffer(b, dtype="<i2", offset=nl + 1)
    return rate, samples


def audio_features_batch(payloads: pd.Series) -> pd.DataFrame:
    """RMS energy (normalized to int16 full scale) and zero-crossing rate
    — the two classic cheap audio-quality features."""
    rates, n_samples, rms, zcr = [], [], [], []
    for b in payloads:
        rate, s = parse_pcm(b)
        x = s.astype(np.float64) / 32768.0
        rates.append(rate)
        n_samples.append(len(s))
        rms.append(round6(float(np.sqrt(np.mean(x * x)))) if len(s) else 0.0)
        signs = np.signbit(x)
        zcr.append(
            round6(float(np.mean(signs[1:] != signs[:-1]))) if len(s) > 1 else 0.0
        )
    return pd.DataFrame(
        {
            "sample_rate": pd.array(rates, dtype="int32"),
            "n_samples": pd.array(n_samples, dtype="int32"),
            "rms": rms,
            "zcr": zcr,
        },
        index=payloads.index,
    )


def _audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as an audio table: each text's bytes become
    little-endian int16 samples under a 'PCM16 <rate>\\n' header — all
    JVM-side binary concat, like the PGM encoder. Odd byte counts drop
    the trailing byte (int16 alignment)."""
    d = load(spark, sf_dir, "documents")
    pix = F.encode("text", "UTF-8")
    n = F.octet_length(pix)
    even = (n - (n % 2)).cast("int")
    payload = F.concat(
        F.encode(F.lit("PCM16 16000\n"), "UTF-8"),
        F.expr("substring(encode(text, 'UTF-8'), 1, "
               "CAST(octet_length(encode(text, 'UTF-8'))"
               " - octet_length(encode(text, 'UTF-8')) % 2 AS INT))"),
    )
    return d.filter(even > 0).select(
        "doc_id",
        payload.alias("payload"),
        F.lit("audio/x-pcm16").alias("media_type"),
        F.octet_length(payload).alias("byte_len"),
    )


@register(
    "mm_audio_features",
    "K",
    oracle="""
        WITH d AS (
            SELECT doc_id, encode(text) AS b,
                   octet_length(encode(text))
                   - octet_length(encode(text)) % 2 AS n
            FROM documents
            WHERE octet_length(encode(text)) - octet_length(encode(text)) % 2 > 0
        ),
        samp AS (
            SELECT d.doc_id, gs.i,
                   ('0x' || substr(hex(d.b), 4 * gs.i - 3, 2))::BIGINT AS lo,
                   ('0x' || substr(hex(d.b), 4 * gs.i - 1, 2))::BIGINT AS hi
            FROM d, LATERAL (
                SELECT UNNEST(generate_series(1, d.n // 2)) AS i
            ) gs
        ),
        vals AS (
            SELECT doc_id, i,
                   (lo + 256 * hi
                    - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END) AS v
            FROM samp
        ),
        feats AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS INT) AS n_samples,
                   SUM((v / 32768.0) * (v / 32768.0)) AS ss,
                   CAST(COUNT(*) FILTER (
                       WHERE (v < 0) <> (prev_v < 0) AND prev_v IS NOT NULL
                   ) AS BIGINT) AS n_cross
            FROM (
                SELECT doc_id, i, v,
                       LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev_v
                FROM vals
            )
            GROUP BY doc_id
        )
        SELECT doc_id,
               'audio/x-pcm16' AS media_type,
               16000 AS sample_rate,
               n_samples,
               CAST(FLOOR(sqrt(ss / n_samples) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS rms,
               CASE WHEN n_samples > 1
                    THEN CAST(FLOOR(n_cross::DOUBLE / (n_samples - 1) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
                    ELSE 0.0 END AS zcr
        FROM feats
    """,
    doc=(
        "Audio-modality pipeline: PCM16 payloads (JVM-side binary encode "
        "with an ASCII rate header) decoded in Arrow-batched mapInPandas "
        "by a pure-numpy parser into RMS energy and zero-crossing rate — "
        "the cheap audio-quality filters of a speech-data pipeline. "
        "Map-only, no shuffle; swapping in a real codec (wav/flac via "
        "soundfile) changes one function body, as with the image path. "
        "Oracle-tier: DuckDB re-assembles the little-endian int16 "
        "samples from hex(blob); every (v/2^15)^2 term is an exact "
        "dyadic rational and the sums stay below 2^53, so the RMS "
        "doubles are bit-identical regardless of summation order, and "
        "the zero-crossing count is pure integer arithmetic. Tests also "
        "re-derive features with an independent numpy path."
    ),
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    audio = _audio_table(spark, sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zcr", T.DoubleType()),
        ]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            f = audio_features_batch(pdf["payload"])
            out = pdf[["doc_id", "media_type"]].copy()
            out[["sample_rate", "n_samples", "rms", "zcr"]] = f
            yield out

    return audio.mapInPandas(feats, out_schema)


# 8 LSH bands of 8 bits each over the 64-bit hash: by pigeonhole, any
# pair within Hamming distance B-1 = 7 must agree exactly on at least
# one band, so the band equi-join has PERFECT recall at the threshold
# below (4 bands of 16 bits would only guarantee distance <= 3 — a pair
# differing by one bit in every band shares none).
PHASH_N_BANDS = 8
PHASH_BAND_BITS = 64 // PHASH_N_BANDS
PHASH_MAX_HAMMING = PHASH_N_BANDS - 1


def ahash_bands_batch(payloads: pd.Series) -> pd.DataFrame:
    """64-bit average-hash (aHash) of each PGM payload, returned as
    eight 8-bit band integers (b0..b7, bit i of band k = block 8k+i).

    The raster maps onto an 8×8 block grid (row block = (r·8)//h, col
    block = c//4 for the fixed 32-px width); bit = block mean > image
    mean, decided by the INTEGER cross-product s·N > S·n so no float
    mean is ever compared — bit-identical to the SQL oracle's integer
    arithmetic, and blocks that receive no rows (h < 8) are 0 on both
    sides."""
    cols = {f"b{k}": [] for k in range(PHASH_N_BANDS)}
    colblk = np.arange(PGM_WIDTH, dtype=np.int64) // 4
    for b in payloads:
        w, h, maxval, raster = parse_pgm(b)
        # s·N and S·n stay below 255·n² — int64-exact only while the
        # payload is under ~190 MB (255·n² < 2^63); the oracle computes
        # the same products in int128, so fail loud rather than wrap.
        if raster.size > 100_000_000:
            raise ValueError(
                f"payload too large for int64 aHash products: {raster.size} px"
            )
        r64 = raster.astype(np.int64)
        rowblk = (np.arange(h, dtype=np.int64) * 8) // h
        blk = (rowblk[:, None] * 8 + colblk[None, :]).ravel()
        # float64 bincount sums are exact below 2^53 — integer-exact here
        sums = np.bincount(blk, weights=r64.ravel(), minlength=64).astype(
            np.int64
        )
        counts = np.bincount(blk, minlength=64).astype(np.int64)
        s_tot = int(r64.sum())
        n_tot = r64.size
        bits = (sums * n_tot) > (s_tot * counts)
        for k in range(PHASH_N_BANDS):
            cols[f"b{k}"].append(
                int(
                    sum(
                        1 << j
                        for j in range(PHASH_BAND_BITS)
                        if bits[PHASH_BAND_BITS * k + j]
                    )
                )
            )
    return pd.DataFrame(
        {k: pd.array(v, dtype="int64") for k, v in cols.items()},
        index=payloads.index,
    )


def _phash_band_sql(k: int) -> str:
    return (
        f"CAST(COALESCE(SUM(CASE WHEN blk // {PHASH_BAND_BITS} = {k}\n"
        f"                   THEN bit * (1 << (blk % {PHASH_BAND_BITS})) END), 0)"
        f" AS BIGINT) AS b{k}"
    )


# Shared oracle CTE chain: raster pixels → 8×8 block sums → aHash bits →
# eight 8-bit band integers per doc (appended after _MM_BYTES_CTE).
_PHASH_HASHES_CTE = (
    """
        pix AS (
            SELECT g.doc_id, g.h, gs.i AS idx,
                   CASE WHEN gs.i < g.n
                        THEN ('0x' || substr(hex(d.b), 2 * gs.i + 1, 2))::BIGINT
                        ELSE 32 END AS v
            FROM geom g JOIN d USING (doc_id),
            LATERAL (SELECT UNNEST(generate_series(0, g.h * 32 - 1)) AS i) gs
        ),
        blocks AS (
            SELECT doc_id,
                   ((idx // 32) * 8) // h * 8 + (idx % 32) // 4 AS blk,
                   SUM(v) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM pix GROUP BY 1, 2
        ),
        tot AS (
            SELECT doc_id, SUM(s) AS st, SUM(cnt) AS nt
            FROM blocks GROUP BY 1
        ),
        bits AS (
            SELECT b.doc_id, b.blk,
                   CASE WHEN b.s * t.nt > t.st * b.cnt
                        THEN 1 ELSE 0 END AS bit
            FROM blocks b JOIN tot t USING (doc_id)
        ),
        hashes AS (
            SELECT doc_id,
                   """
    + ",\n                   ".join(_phash_band_sql(k) for k in range(PHASH_N_BANDS))
    + """
            FROM bits GROUP BY doc_id
        )"""
)

_SQL_HAMMING = " + ".join(
    f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(PHASH_N_BANDS)
)
_SQL_ANY_BAND = " OR ".join(f"a.b{k} = b.b{k}" for k in range(PHASH_N_BANDS))
_SQL_BAND_VALUES = ", ".join(f"({k}, b{k})" for k in range(PHASH_N_BANDS))


def _phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b0..b7) aHash band table, hashed once per query.

    Lazy checkpoint: the per-image Python hash pass can feed BOTH
    sides of a self-join, and Spark does not reuse the exchange across
    differently-aliased subplans — without this the decode+hash work
    (the expensive part) executes twice."""
    media = _media_table(spark, sf_dir)
    hash_schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"b{k}", T.LongType()) for k in range(PHASH_N_BANDS)]
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out[[f"b{k}" for k in range(PHASH_N_BANDS)]] = ahash_bands_batch(
                pdf["payload"]
            )
            yield out

    return media.mapInPandas(hash_batch, hash_schema).transform(
        checkpoint, eager=False
    )


def _phash_band_rows(hashes: DataFrame) -> DataFrame:
    """(doc_id, b*, k, v) rows — one per LSH band."""
    kv = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("v"))
                for k in range(PHASH_N_BANDS)
            ]
        )
    ).alias("kv")
    bcols = [f"b{k}" for k in range(PHASH_N_BANDS)]
    return hashes.select("doc_id", *bcols, kv).select(
        "doc_id", *bcols, F.col("kv.k").alias("k"), F.col("kv.v").alias("v")
    )


@register(
    "mm_phash_neardup",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        {_PHASH_HASHES_CTE}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_SQL_HAMMING} AS BIGINT) AS hamming
        FROM hashes a JOIN hashes b
          ON a.doc_id < b.doc_id
         AND ({_SQL_ANY_BAND})
        WHERE {_SQL_HAMMING} <= {PHASH_MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """,
    doc=(
        "Image near-duplicate detection via perceptual hashing — the "
        "multimodal twin of llm_dedup_minhash. Each PGM payload is "
        "decoded in an Arrow-batched mapInPandas pass to a 64-bit "
        "average-hash (8×8 block-mean grid thresholded against the "
        "image mean, the classic aHash), carried as eight 8-bit bands; "
        "candidate pairs come from an EQUI-join on any equal band "
        "(with B bands, Hamming ≤ B−1 = 7 guarantees ≥ one exact band "
        "by pigeonhole — PERFECT recall at the threshold, and no "
        "all-pairs scan anywhere in the Spark plan), then the verified "
        "Hamming distance filters candidates. Every hash bit is "
        "decided by the integer cross-product s·N > S·n (no float "
        "means), so the DuckDB oracle re-derives identical hashes from "
        "hex(blob) pixel arithmetic and the OUTPUT PAIRS are "
        "hash-verified cross-engine — an oracle-tier multimodal dedup. "
        "Scale: hashing is map-only; the band join shuffles 8 small "
        "rows per image; collision buckets are band-value-bounded (the "
        "minhash banding argument). Swap the PGM parser for a JPEG "
        "decoder + DCT (true pHash) and only the batch function body "
        "changes."
    ),
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bandrows = _phash_band_rows(_phash_hashes(spark, sf_dir))
    right = bandrows.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(PHASH_N_BANDS)],
        F.col("k").alias("rk"),
        F.col("v").alias("rv"),
    )
    hamming = sum(
        F.bit_count(F.col(f"b{k}").bitwiseXOR(F.col(f"c{k}")))
        for k in range(PHASH_N_BANDS)
    )
    # Hamming first, threshold second, THEN dedup the multi-band matches
    # — the distinct runs on three narrow columns of the tiny survivor
    # set instead of the full band-column candidate width.
    return (
        bandrows.join(
            right,
            (F.col("k") == F.col("rk"))
            & (F.col("v") == F.col("rv"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            hamming.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .distinct()
    )


@register(
    "mm_phash_groups",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        {_PHASH_HASHES_CTE},
        bands AS (
            SELECT doc_id, bb.k, bb.v
            FROM hashes CROSS JOIN LATERAL (VALUES
                {_SQL_BAND_VALUES}
            ) AS bb(k, v)
        ),
        rep AS (
            SELECT k, v, MIN(doc_id) AS bucket_rep,
                   CAST(COUNT(*) AS BIGINT) AS bucket_n
            FROM bands GROUP BY k, v
        )
        SELECT b.doc_id,
               MIN(r.bucket_rep) AS group_rep,
               MAX(r.bucket_n) AS max_bucket_size,
               MIN(r.bucket_rep) < b.doc_id AS is_candidate_dup
        FROM bands b JOIN rep r USING (k, v)
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
    doc=(
        "Image dedup in GROUP form: the 100 TB shape of "
        "mm_phash_neardup. Each image's eight aHash bands are LSH "
        "buckets; every bucket's representative is its min doc_id and "
        "each image joins the min representative over its buckets — "
        "the llm_dedup_minhash 1-hop union applied to perceptual "
        "hashes, so a block of k near-identical images costs k rows, "
        "never k² pairs (the pair operator exists for audit; this one "
        "is what a production image-dedup pass keeps). Reuses "
        "_bucket_group_assign (signature pass + two groupBys, all "
        "linear) and the hashes are the same integer-exact aHash, so "
        "the grouping is hash-verified cross-engine — oracle-tier."
    ),
)
def mm_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.llm_dedup import (
        _bucket_group_assign,
    )

    banded = _phash_band_rows(_phash_hashes(spark, sf_dir)).select(
        "doc_id", "k", "v"
    )
    return _bucket_group_assign(banded, "doc_id", bucket_cols=("k", "v"))


@register(
    "mm_scene_cut",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        m AS (
            SELECT g.doc_id,
                   hex(encode('P5\n32 ' || CAST(g.h AS VARCHAR) || '\n255\n'))
                   || hex(d.b) || repeat('20', g.h * 32 - g.n) AS hx,
                   11 + length(CAST(g.h AS VARCHAR)) + g.h * 32 AS len
            FROM geom g JOIN d USING (doc_id)
        ),
        frames AS (
            SELECT m.doc_id, CAST(gs.fi AS INT) AS frame_idx,
                   substr(m.hx, 256 * gs.fi + 1, 256) AS fh,
                   CAST(length(substr(m.hx, 256 * gs.fi + 1, 256)) // 2 AS INT)
                       AS flen
            FROM m, LATERAL (
                SELECT UNNEST(generate_series(0,
                    CAST(ceil(m.len / 128.0) AS INT) - 1)) AS fi
            ) gs
        ),
        fb AS (
            SELECT doc_id, frame_idx, flen,
                   CAST(SUM(('0x' || substr(fh, 2 * gs.i - 1, 2))::BIGINT)
                        AS BIGINT) AS fsum
            FROM frames, LATERAL (
                SELECT UNNEST(generate_series(1, flen)) AS i
            ) gs
            GROUP BY doc_id, frame_idx, flen
        )
        SELECT doc_id, frame_idx, fsum, flen,
               COALESCE(
                   ABS(fsum * lag(flen) OVER w - lag(fsum) OVER w * flen) * 20
                   > 255 * flen * lag(flen) OVER w, FALSE) AS is_cut
        FROM fb
        WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    """,
    doc=(
        "Scene-boundary detection on video-like payloads: the 128-byte "
        "pseudo-frames of mm_frame_sample get a mean-brightness each "
        "(numpy byte sum inside Arrow-batched mapInPandas — the honest "
        "decode boundary), then a per-video lag window flags frames "
        "whose mean shifts by more than 12.75/255 from the previous "
        "frame — the luma-delta cut heuristic real shot-segmentation "
        "pipelines start from. Determinism: the comparison is EXACT "
        "integer cross-multiplication (|s_t*l_prev - s_prev*l_t|*20 > "
        "255*l_t*l_prev) — no float thresholds; the oracle re-derives "
        "every frame sum from hex(blob) byte arithmetic. Plan: map-only "
        "decode fan-out, one per-video window shuffle; parallelism = "
        "videos x frames, linear at any scale."
    ),
)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    media = _media_table(spark, sf_dir)
    n_frames = F.ceil(F.col("byte_len") / 128).cast("int")
    frames = media.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_f"),
        F.col("payload"),
    ).select(
        "doc_id",
        "frame_idx",
        F.substring(F.col("payload"), F.col("frame_idx") * 128 + 1, 128).alias(
            "fb"
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("fsum", T.LongType()),
            T.StructField("flen", T.IntegerType()),
        ]
    )

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fsum = [
                int(np.frombuffer(b, dtype=np.uint8).sum()) for b in pdf["fb"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_idx": pdf["frame_idx"],
                    "fsum": pd.array(fsum, dtype="int64"),
                    "flen": pd.array([len(b) for b in pdf["fb"]], dtype="int32"),
                }
            )

    dec = frames.mapInPandas(sums, out_schema)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    ps, pl = F.lag("fsum").over(w), F.lag("flen").over(w)
    cut = (
        F.abs(F.col("fsum") * pl - ps * F.col("flen")) * 20
        > F.lit(255) * F.col("flen") * pl
    )
    return dec.select(
        "doc_id",
        "frame_idx",
        "fsum",
        "flen",
        F.coalesce(cut, F.lit(False)).alias("is_cut"),
    )


# Energy-based VAD geometry: 32-sample frames (the fixture payloads are
# ~100-250 samples — real VAD uses 10-30 ms frames, i.e. 160-480 samples
# at 16 kHz; only the constants change). A frame is "active" iff its
# INTEGER energy sum(v²) exceeds frame_len × the mean-square threshold —
# the comparison is exact int64 arithmetic on both engines (max
# sum(v²) = 32·32768² ≈ 3.4e10, threshold product ≤ 32·6.5e8 ≈ 2.1e10),
# so the activity bitmap, and hence every segment boundary, is
# bit-identical to the SQL oracle with no float RMS anywhere.
VAD_FRAME = 32
VAD_MEANSQ = 650000000  # ≈ median frame mean-square of the fixture


def vad_frames_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-frame integer energy rows (doc_id, frame_id, f_len, ssq)."""
    for pdf in batches:
        doc, fid, flen, ssq = [], [], [], []
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            _rate, s = parse_pcm(bytes(b))
            x = s.astype(np.int64)
            for i in range(0, len(x), VAD_FRAME):
                fr = x[i : i + VAD_FRAME]
                doc.append(doc_id)
                fid.append(i // VAD_FRAME)
                flen.append(len(fr))
                ssq.append(int((fr * fr).sum()))
        yield pd.DataFrame(
            {
                "doc_id": pd.array(doc, dtype="int64"),
                "frame_id": pd.array(fid, dtype="int32"),
                "f_len": pd.array(flen, dtype="int32"),
                "ssq": pd.array(ssq, dtype="int64"),
            }
        )


@register(
    "mm_audio_vad",
    "K",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, encode(text) AS b,
                   octet_length(encode(text))
                   - octet_length(encode(text)) % 2 AS n
            FROM documents
            WHERE octet_length(encode(text)) - octet_length(encode(text)) % 2 > 0
        ),
        samp AS (
            SELECT d.doc_id, gs.i,
                   ('0x' || substr(hex(d.b), 4 * gs.i - 3, 2))::BIGINT AS lo,
                   ('0x' || substr(hex(d.b), 4 * gs.i - 1, 2))::BIGINT AS hi
            FROM d, LATERAL (
                SELECT UNNEST(generate_series(1, d.n // 2)) AS i
            ) gs
        ),
        vals AS (
            SELECT doc_id, i,
                   (lo + 256 * hi
                    - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END) AS v
            FROM samp
        ),
        fr AS (
            SELECT doc_id, CAST((i - 1) // {VAD_FRAME} AS INT) AS frame_id,
                   CAST(COUNT(*) AS BIGINT) AS f_len,
                   CAST(SUM(v * v) AS BIGINT) AS ssq
            FROM vals GROUP BY doc_id, (i - 1) // {VAD_FRAME}
        ),
        fl AS (
            SELECT doc_id, frame_id,
                   (ssq > f_len * {VAD_MEANSQ}) AS active,
                   LAG(ssq > f_len * {VAD_MEANSQ}) OVER (
                       PARTITION BY doc_id ORDER BY frame_id) AS prev_a
            FROM fr
        ),
        sg AS (
            SELECT doc_id, frame_id, active,
                   CASE WHEN active AND NOT COALESCE(prev_a, false)
                        THEN 1 ELSE 0 END AS is_start,
                   SUM(CASE WHEN active AND NOT COALESCE(prev_a, false)
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY frame_id
                       ROWS UNBOUNDED PRECEDING) AS seg_id
            FROM fl
        ),
        per AS (
            SELECT doc_id, CAST(COUNT(*) AS INT) AS total_frames,
                   CAST(COUNT(*) FILTER (WHERE active) AS INT)
                       AS active_frames,
                   CAST(SUM(is_start) AS INT) AS n_segments
            FROM sg GROUP BY doc_id
        ),
        sl AS (
            SELECT doc_id, seg_id, CAST(COUNT(*) AS INT) AS seg_len
            FROM sg WHERE active GROUP BY doc_id, seg_id
        ),
        mx AS (
            SELECT doc_id, MAX(seg_len) AS max_segment_frames
            FROM sl GROUP BY doc_id
        )
        SELECT p.doc_id, p.total_frames, p.active_frames, p.n_segments,
               COALESCE(m.max_segment_frames, 0)::INT AS max_segment_frames
        FROM per p LEFT JOIN mx m USING (doc_id)
    """,
    doc=(
        "Energy-based voice-activity detection (VAD) over the PCM16 "
        "audio column: fixed-width frames score integer energy, frames "
        "above the threshold are 'speech', and consecutive active "
        "frames merge into segments (gaps-and-islands) — per doc the "
        "frame counts, segment count, and longest segment. This is the "
        "audio-curation sibling of mm_scene_cut: training pipelines run "
        "exactly this pass to drop silence and split long recordings "
        "before transcription. Plan: one map-only Arrow decode pass "
        "emitting ~5 counter rows per doc (materialized once via lazy "
        "checkpoint — two consumers), then keyed windows and "
        "aggregates over counters, never samples: per-doc state is "
        "frames, not audio bytes, so a 100 TB corpus streams through "
        "with executor memory bounded by frame counts. The activity "
        "decision is exact int64 (no float RMS), making the segment "
        "structure hash-verifiable cross-engine."
    ),
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    audio = _audio_table(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_id", T.IntegerType()),
            T.StructField("f_len", T.IntegerType()),
            T.StructField("ssq", T.LongType()),
        ]
    )
    frames = audio.mapInPandas(vad_frames_batch, schema).transform(
        checkpoint, eager=False
    )
    w = Window.partitionBy("doc_id").orderBy("frame_id")
    active = F.col("ssq") > F.col("f_len").cast("long") * VAD_MEANSQ
    fr = (
        frames.withColumn("active", active)
        .withColumn("prev_a", F.lag("active").over(w))
        .withColumn(
            "is_start",
            (F.col("active") & ~F.coalesce(F.col("prev_a"), F.lit(False)))
            .cast("int"),
        )
        .withColumn(
            "seg_id",
            F.sum("is_start").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per = fr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("total_frames"),
        F.sum(F.col("active").cast("int")).cast("int").alias("active_frames"),
        F.sum("is_start").cast("int").alias("n_segments"),
    )
    seg_len = (
        fr.filter(F.col("active"))
        .groupBy("doc_id", "seg_id")
        .agg(F.count(F.lit(1)).cast("int").alias("seg_len"))
    )
    mx = seg_len.groupBy("doc_id").agg(
        F.max("seg_len").alias("max_segment_frames")
    )
    return per.join(mx, "doc_id", "left").select(
        "doc_id",
        "total_frames",
        "active_frames",
        "n_segments",
        F.coalesce("max_segment_frames", F.lit(0))
        .cast("int")
        .alias("max_segment_frames"),
    )


@register(
    "mm_pixel_stats",
    "K",
    oracle=f"""
        WITH {_MM_BYTES_CTE},
        sq AS (SELECT doc_id, SUM(v * v) AS ss FROM bytes GROUP BY doc_id),
        per AS (
            SELECT g.doc_id, g.h * 32 AS npix,
                   su.s + 32 * (g.h * 32 - g.n) AS psum,
                   sq.ss + 1024 * (g.h * 32 - g.n) AS psumsq
            FROM geom g JOIN sums su USING (doc_id) JOIN sq USING (doc_id)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(npix) AS BIGINT) AS total_pixels,
               CAST(SUM(psum) AS BIGINT) AS sum_pixels,
               CAST(SUM(psumsq) AS BIGINT) AS sumsq_pixels,
               ROUND(SUM(psum)::DOUBLE / SUM(npix) / 255, 6) AS mean_pixel,
               ROUND(sqrt(SUM(psumsq)::DOUBLE / SUM(npix)
                          - (SUM(psum)::DOUBLE / SUM(npix))
                            * (SUM(psum)::DOUBLE / SUM(npix))) / 255, 6)
                   AS std_pixel
        FROM per
    """,
    doc=(
        "Corpus NORMALIZATION constants for the image modality: the "
        "global pixel mean and std (in [0,1] scale) every vision "
        "training pipeline computes once over the corpus and bakes into "
        "its preprocessing transform. Per-image integer moments "
        "(n, Σv, Σv²) come from the Arrow decode pass — int64-exact, so "
        "the partial aggregation across any partitioning is "
        "order-independent — and the only floats are the two final "
        "expressions over exact BIGINT totals (identical operation "
        "order in the oracle). Map-only decode + one global aggregate: "
        "the cheapest possible full-corpus pass at 100 TB."
    ),
)
def mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_table(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("npix", T.LongType()),
            T.StructField("psum", T.LongType()),
            T.StructField("psumsq", T.LongType()),
        ]
    )

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            npix, psum, psumsq = [], [], []
            for b in pdf["payload"]:
                _w, _h, _mx, raster = parse_pgm(bytes(b))
                r = raster.astype(np.int64)
                npix.append(int(r.size))
                psum.append(int(r.sum()))
                psumsq.append(int((r * r).sum()))
            yield pd.DataFrame(
                {
                    "npix": pd.array(npix, dtype="int64"),
                    "psum": pd.array(psum, dtype="int64"),
                    "psumsq": pd.array(psumsq, dtype="int64"),
                }
            )

    per = media.select("payload").mapInPandas(moments, schema)
    mean_raw = F.col("sum_pixels").cast("double") / F.col("total_pixels")
    return (
        per.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum("npix").cast("bigint").alias("total_pixels"),
            F.sum("psum").cast("bigint").alias("sum_pixels"),
            F.sum("psumsq").cast("bigint").alias("sumsq_pixels"),
        )
        .select(
            "n_images",
            "total_pixels",
            "sum_pixels",
            "sumsq_pixels",
            F.round(mean_raw / 255, 6).alias("mean_pixel"),
            F.round(
                F.sqrt(
                    F.col("sumsq_pixels").cast("double")
                    / F.col("total_pixels")
                    - mean_raw * mean_raw
                )
                / 255,
                6,
            ).alias("std_pixel"),
        )
    )
