"""Multimodal-column workload over the documents table.

``multimodal_binary_meta`` is fully oracle-checked: the binary payload
transformations that are pure SQL (encode → length / md5 digest) run on
both engines. ``multimodal_feature_extract`` runs the REAL pure-Python
netpbm decode over JVM-built P6 PPM payloads and is hash-checked
against an independent hex-space recomputation;
``multimodal_frame_sample`` exercises the Arrow-batched mapInPandas
frame plumbing the same way (value-level tests live in
``tests/test_multimodal.py``).

Also here: ``embedding_near_dups`` — embedding-cosine near-duplicate
detection (the dedup family's vector member), exact and oracle-checked
via the unrolled cosine expression (functions/vectors.py). The fixture
has no true duplicates (max pairwise cosine ~0.46), so the threshold is
set where the semantics produce a non-trivial pair set.

Scale notes:
- The near-dup pair join is O(n²) brute force, restricted to a query
  slice here; the scale path is LSH bucketing (dedup/minhash.py,
  similarity/knn.py) which turns it into a per-bucket join.
- Feature extraction is one narrow mapInPandas pass — no shuffle; the
  payload column is pruned away immediately after.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_pipeline_spark.functions.vectors import (
    EMB_DIMS_DEFAULT,
    cosine_sql,
    seq_cosine_fenced,
    sq_norm_sql,
)
from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.multimodal import (
    RASTER_STATS_DDL,
    attach_fake_media,
    attach_ppm_media,
    attach_wav_media,
    decode_gif,
    decode_jpeg_baseline,
    decode_netpbm,
    decode_png,
    decoded_audio_features,
    decoded_pixel_features,
    frame_sample,
    gif_payload,
    image_ahash,
    jpeg_payload,
    map_payload,
    png_payload,
    raster_stats,
    resize_image,
)

# --- binary metadata projection (oracle-checked) ----------------------------


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_fake_media(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.media_type").alias("media_type"),
        F.md5("media").alias("digest"),
        F.base64(F.substring("media", 1, 12)).alias("head_b64"),
    )


_BINARY_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'image' AS media_type,
       md5(text) AS digest,
       to_base64(encode(substring(text, 1, 12))) AS head_b64
FROM documents
"""


# --- Arrow-batched feature extraction over REAL decoded pixels --------------
# The media here are genuine P6 PPM images (attach_ppm_media builds
# header + zero-padded raster JVM-side from the text bytes), and every
# emitted value comes out of the pure-Python netpbm DECODER
# (multimodal/columns.decode_netpbm): parsed width/height/maxval plus
# the high-nibble histogram of the decoded pixel array. The DuckDB twin
# recomputes the same statistics independently in HEX space (the raster
# is the text bytes zero-padded to height*48; the high nibble of byte i
# is hex char 2i+1; pad bytes land in bin 0) — a header mis-parse or
# raster mis-slice on the Spark side breaks the hash match. DuckDB in
# this build has no BLOB substring/digest functions, hence hex space
# rather than raw binary.


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_ppm_media(read_table(spark, sf_dir, "documents"))
    feats = decoded_pixel_features(docs.select("doc_id", "media"))
    # f0 = fraction of pixel bytes with high nibble 0 (ASCII control
    # chars + zero padding); f14 = nibble 0xE (CJK UTF-8 lead bytes)
    return feats.select(
        "doc_id",
        "width",
        "height",
        "maxval",
        F.col("features").getItem(0).alias("f0"),
        F.col("features").getItem(14).alias("f14"),
        F.size("features").alias("n_bins"),
    )


_FEATURE_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), d AS (
  SELECT doc_id, hx, nb,
         GREATEST(1, CAST(CEIL(nb / 48.0) AS BIGINT)) AS hgt
  FROM h
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(hgt AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(len(list_filter(range(0, nb),
                            i -> substring(hx, i*2+1, 1) = '0'))
            + (hgt*48 - nb) AS DOUBLE) / (hgt*48) AS f0,
       CAST(len(list_filter(range(0, nb),
                            i -> substring(hx, i*2+1, 1) = 'E')) AS DOUBLE)
         / (hgt*48) AS f14,
       16 AS n_bins
FROM d
"""


# --- REAL audio decode: RIFF/WAVE PCM chunk walk ----------------------------
# attach_wav_media builds genuine 44-byte-header WAV containers JVM-side
# (LE header ints via unhex); decode_wav walks the chunks for real and
# the emitted statistics come from the DECODED sample array — exact
# integer moments plus one IEEE division for the mean, so the DuckDB
# twin (per-byte values recovered from hex space) matches bit-for-bit.


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_wav_media(read_table(spark, sf_dir, "documents"))
    return decoded_audio_features(docs.select("doc_id", "media"))


_AUDIO_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), b AS (
  SELECT doc_id, nb,
         list_transform(range(0, nb), i ->
           (strpos('0123456789ABCDEF', substring(hx, CAST(i*2+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, CAST(i*2+2 AS INT), 1)) - 1
         ) AS vals
  FROM h
)
SELECT doc_id,
       CAST(1 AS INT) AS channels,
       CAST(8000 AS INT) AS sample_rate,
       CAST(8 AS INT) AS bits,
       CAST(nb AS BIGINT) AS n_samples,
       CAST(nb * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(COALESCE(list_sum(vals), 0) AS BIGINT) AS sum_samples,
       CAST(COALESCE(list_sum(list_transform(vals, v -> v * v)), 0) AS BIGINT)
         AS sum_sq,
       CAST(list_aggregate(vals, 'min') AS INT) AS sample_min,
       CAST(list_aggregate(vals, 'max') AS INT) AS sample_max,
       CASE WHEN nb > 0
            THEN CAST(list_sum(vals) AS DOUBLE) / nb END AS mean_sample
FROM b
"""


# --- REAL image resize: decode → nearest-neighbor → re-encode ---------------
# The Spark side decodes the P6 payload, resamples with the standard
# floor(i*src/dst) nearest-neighbor rule, re-encodes, and emits the hex
# of the complete resized payload. The DuckDB twin rebuilds that hex
# from the TEXT alone: constant 'P6\\n8 4\\n255\\n' header plus, for each
# of the 32 output pixels, the 6 hex chars of the source pixel it maps
# to in the zero-padded raster. Any resample-index or re-encode bug on
# the Spark side breaks the string equality.

_RESIZE_W, _RESIZE_H = 8, 4
_RESIZE_HEADER_HEX = "50360A3820340A3235350A"  # 'P6\n8 4\n255\n'


def multimodal_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_ppm_media(read_table(spark, sf_dir, "documents"))
    resized = resize_image(
        docs.select("doc_id", "media"), out_w=_RESIZE_W, out_h=_RESIZE_H
    )
    return resized.select(
        "doc_id",
        F.hex("media").alias("media_hex"),
        F.octet_length("media").cast("long").alias("n_bytes"),
    )


_RESIZE_SQL = f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), d AS (
  SELECT doc_id, hx, nb,
         GREATEST(1, CAST(CEIL(nb / 48.0) AS BIGINT)) AS hgt
  FROM h
), p AS (
  SELECT doc_id, hgt,
         hx || repeat('00', CAST(hgt * 48 - nb AS INT)) AS px
  FROM d
)
SELECT doc_id,
       '{_RESIZE_HEADER_HEX}' || array_to_string(
         list_transform(range(0, {_RESIZE_W * _RESIZE_H}), k ->
           substring(px,
                     CAST(3 * ((k // {_RESIZE_W}) * hgt // {_RESIZE_H} * 16
                               + 2 * (k % {_RESIZE_W})) * 2 + 1 AS INT),
                     6)),
         '') AS media_hex,
       CAST({len(_RESIZE_HEADER_HEX) // 2} + {_RESIZE_W * _RESIZE_H} * 3 AS BIGINT)
         AS n_bytes
FROM p
"""


# --- image perceptual hash (aHash) near-dup signatures ----------------------
# The image-side member of the dedup family: REAL P6 decode →
# nearest-neighbor 8x8 luminance grid (integer channel sums, the same
# floor(i*src/dst) rule as the resize op) → threshold vs the image mean
# (64*cell > total, integer-exact) → 64-bit signature, plus how many
# images share it. The DuckDB twin recomputes every bit from hex space
# with the identical index arithmetic, so a decode, sampling, or
# threshold bug on the Spark side breaks the hash equality. At corpus
# scale near-dup grouping on the signature is an exact groupBy (or a
# hamming-ball LSH over signature chunks — the SimHash pigeonhole
# machinery in dedup/simhash.py applies unchanged).

_AHASH_GRID = 8


def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_ppm_media(read_table(spark, sf_dir, "documents"))
    hashed = image_ahash(
        docs.select("doc_id", "media"), grid=_AHASH_GRID
    )
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id", "ahash", "n_bright", F.count(F.lit(1)).over(w).alias("n_same_hash")
    )


def _ahash_sql() -> str:
    g = _AHASH_GRID
    hexmap = "strpos('0123456789ABCDEF', substring(px, CAST(({o})*2+{c} AS INT), 1)) - 1"
    byte = (
        f"(({hexmap.format(o='{o}', c=1)}) * 16 + ({hexmap.format(o='{o}', c=2)}))"
    )
    o_base = f"3*((k // {g}) * hgt // {g} * 16 + 2 * (k % {g}))"
    cell = " + ".join(byte.format(o=f"{o_base} + {j}") for j in range(3))
    return f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), d AS (
  SELECT doc_id, hx, nb,
         GREATEST(1, CAST(CEIL(nb / 48.0) AS BIGINT)) AS hgt
  FROM h
), p AS (
  SELECT doc_id, hgt,
         hx || repeat('00', CAST(hgt * 48 - nb AS INT)) AS px
  FROM d
), cells AS (
  SELECT doc_id,
         list_transform(range(0, {g * g}), k -> {cell}) AS gvals
  FROM p
), tot AS (
  SELECT doc_id, gvals, list_sum(gvals) AS total FROM cells
), sig AS (
  SELECT doc_id,
         array_to_string(
           list_transform(gvals,
             v -> CASE WHEN {g * g} * v > total
                       THEN '1' ELSE '0' END), '') AS ahash
  FROM tot
)
SELECT doc_id, ahash,
       CAST(length(replace(ahash, '0', '')) AS INT) AS n_bright,
       COUNT(*) OVER (PARTITION BY ahash) AS n_same_hash
FROM sig
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_fake_media(read_table(spark, sf_dir, "documents"))
    frames = frame_sample(docs.select("doc_id", "media"), frame_bytes=64, stride=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").alias("frame_bytes"),
        F.hex("frame").alias("frame_hex"),
    )


_FRAME_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(LEAST(64, nb - i*64) AS INT) AS frame_bytes,
       substring(hx, i*128 + 1, 128) AS frame_hex
FROM h, UNNEST(range(0, GREATEST(nb // 64, 1), 4)) AS u(i)
"""


# --- embedding-cosine near-duplicate pairs (oracle-checked) -----------------

_NEARDUP_SLICE = 300
_NEARDUP_THRESHOLD = 0.35


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scoring via the Arrow seq_cosine kernel (squared norms precomputed
    # once per vector): bit-identical to the oracle's unrolled SQL, ~5x
    # the interpreted expression chain — same trade as knn_cosine_topk.
    # The FENCED variant keeps the all-pairs scoring to one
    # ArrowEvalPython pass: the threshold filter otherwise duplicates
    # the kernel (see seq_cosine_fenced in functions/vectors.py).
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _NEARDUP_SLICE
    ).withColumn("sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0)))
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        F.col("sqn").alias("sqn_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        F.col("sqn").alias("sqn_b"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            seq_cosine_fenced(
                F.col("vec_a"), F.col("vec_b"), F.col("sqn_a"), F.col("sqn_b")
            ),
        )
        .filter(F.col("cos_sim") >= _NEARDUP_THRESHOLD)
        .select("id_a", "id_b", "cos_sim")
    )


_NEARDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_NEARDUP_SLICE}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cosine_sql("a.embedding", "b.embedding", EMB_DIMS_DEFAULT, offset=1)}
           AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {_NEARDUP_THRESHOLD}
"""


# --- multimodal_corrupt_quarantine: decode-validate + quarantine split ------
# The ingest guard every large media pipeline runs before feature
# extraction: validate each payload with the REAL decoder and route
# rows to ok / quarantine with a reason. Corruption is injected
# deterministically (doc_id % 7 == 0: magic byte overwritten;
# doc_id % 7 == 1: raster truncated below the header's promise), the
# classification comes from the actual pure-Python netpbm parse in one
# map_payload pass — and the DuckDB oracle derives the EXPECTED
# status analytically from the same corruption rule, so a parser that
# misclassifies any payload breaks the hash match.
#
# Scale shape: one narrow Arrow pass over the payload column (no
# shuffle); the quarantine split is a status filter downstream. The
# payload column is pruned immediately after validation.


def multimodal_corrupt_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = attach_ppm_media(read_table(spark, sf_dir, "documents"))
    corrupted = docs.withColumn(
        "media",
        F.when(
            F.col("doc_id") % 7 == 0,
            # overwrite the magic's first byte
            F.concat(
                F.encode(F.lit("X"), "UTF-8"),
                F.substring("media", 2, 1 << 30),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            # cut 10 bytes off the tail: raster < header's promise
            F.substring("media", 1, F.octet_length("media") - F.lit(10)),
        )
        .otherwise(F.col("media")),
    )

    def validate(payload) -> tuple:
        b = bytes(payload)
        if b[:2] not in (b"P5", b"P6"):
            return "bad_magic", None, None
        try:
            _, w, h, _, _ = decode_netpbm(b)
        except ValueError:
            return "truncated", None, None
        return "ok", w, h

    return map_payload(
        corrupted.select("doc_id", "media"),
        "media",
        "status string, width int, height int",
        validate,
    )


_QUARANTINE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'bad_magic'
            WHEN doc_id % 7 = 1 THEN 'truncated'
            ELSE 'ok' END AS status,
       CASE WHEN doc_id % 7 IN (0, 1) THEN NULL
            ELSE 16 END AS width,
       CASE WHEN doc_id % 7 IN (0, 1) THEN NULL
            ELSE CAST(GREATEST(1, CEIL(octet_length(encode(text)) / 48.0))
                      AS INTEGER) END AS height
FROM documents
"""


# --- REAL compressed codecs: PNG, baseline JPEG, GIF -----------------------
# Each codec query renders every document as a genuine compressed image
# (multimodal/columns.py *_payload: PNG with all five scanline filters,
# block-constant baseline JPEG, animated LZW GIF), decodes it with the
# real codec and measures the DECODED raster — encode → decode →
# raster_stats per document in ONE map_payload pass, so the query crosses
# into Python once. Every raster is a pure function of the text bytes,
# so the DuckDB twins recompute each statistic from hex (and the PNG
# filter count from the row % 5 schedule), while a wrong unfilter,
# Huffman/IDCT step or LZW code-width change on the Spark side breaks
# the hash match.
#
# Scale shape: the (doc_id, text) projection is repartitioned to every
# core first (the codec kernels are the cost and a small corpus arrives
# as ONE parquet split; at cluster scale this is a cheap two-column
# shuffle), then one narrow Arrow pass, no shuffle after; decode cost is
# linear in (capped) raster bytes.


def _codec_stats(spark: SparkSession, sf_dir: str, fields: str, measure) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return map_payload(docs, "text", f"{fields}, {RASTER_STATS_DDL}", measure)


def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def measure(text) -> tuple:
        w, h, ch, px, fts = decode_png(png_payload(text))
        return (w, h, ch, len(fts), *raster_stats(px))

    fields = "width int, height int, channels int, n_filters int"
    return _codec_stats(spark, sf_dir, fields, measure)


_PNG_STATS_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), d AS (
  SELECT doc_id, nb,
         GREATEST(1, CAST(CEIL(nb / 16.0) AS BIGINT)) AS hgt,
         list_transform(range(0, nb), i ->
           (strpos('0123456789ABCDEF', substring(hx, CAST(i*2+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, CAST(i*2+2 AS INT), 1)) - 1
         ) AS vals
  FROM h
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(hgt AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(LEAST(hgt, 5) AS INT) AS n_filters,
       CAST(COALESCE(list_sum(vals), 0) AS BIGINT) AS sum_pixels,
       CAST(COALESCE(len(list_filter(vals, v -> v = 0)), 0)
            + (hgt * 16 - nb) AS BIGINT) AS n_zero,
       CAST(CASE WHEN hgt * 16 > nb THEN 0
                 ELSE list_aggregate(vals, 'min') END AS INT) AS px_min,
       CAST(CASE WHEN nb = 0 THEN 0
                 ELSE GREATEST(list_aggregate(vals, 'max'), 0) END AS INT)
         AS px_max,
       CAST(COALESCE(list_sum(vals), 0) AS DOUBLE) / (hgt * 16) AS mean_pixel
FROM d
"""


def multimodal_jpeg_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def measure(text) -> tuple:
        w, h, _, px = decode_jpeg_baseline(jpeg_payload(text))
        return (w, h, (w // 8) * (h // 8), *raster_stats(px))

    return _codec_stats(spark, sf_dir, "width int, height int, n_blocks int", measure)


_JPEG_STATS_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         LEAST(octet_length(encode(text)), 64) AS nb
  FROM documents
), d AS (
  SELECT doc_id, nb,
         GREATEST(1, CAST(CEIL(nb / 16.0) AS BIGINT)) AS rows_,
         list_transform(range(0, nb), i ->
           (strpos('0123456789ABCDEF', substring(hx, CAST(i*2+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, CAST(i*2+2 AS INT), 1)) - 1
         ) AS vals
  FROM h
)
SELECT doc_id,
       CAST(128 AS INT) AS width,
       CAST(rows_ * 8 AS INT) AS height,
       CAST(rows_ * 16 AS INT) AS n_blocks,
       CAST(64 * COALESCE(list_sum(vals), 0) AS BIGINT) AS sum_pixels,
       CAST(64 * (COALESCE(len(list_filter(vals, v -> v = 0)), 0)
                  + (rows_ * 16 - nb)) AS BIGINT) AS n_zero,
       CAST(CASE WHEN rows_ * 16 > nb THEN 0
                 ELSE list_aggregate(vals, 'min') END AS INT) AS px_min,
       CAST(CASE WHEN nb = 0 THEN 0
                 ELSE GREATEST(list_aggregate(vals, 'max'), 0) END AS INT)
         AS px_max,
       CAST(64 * COALESCE(list_sum(vals), 0) AS DOUBLE)
         / (rows_ * 16 * 64) AS mean_pixel
FROM d
"""


def multimodal_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def measure(text) -> tuple:
        w, h, frames = decode_gif(gif_payload(text))
        return (w, h, len(frames), *raster_stats(np.stack(frames)))

    return _codec_stats(spark, sf_dir, "width int, height int, n_frames int", measure)


_GIF_STATS_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         LEAST(octet_length(encode(text)), 256) AS nb
  FROM documents
), d AS (
  SELECT doc_id, nb,
         GREATEST(1, CAST(CEIL(nb / 64.0) AS BIGINT)) AS nf,
         list_transform(range(0, nb), i ->
           (strpos('0123456789ABCDEF', substring(hx, CAST(i*2+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(hx, CAST(i*2+2 AS INT), 1)) - 1
         ) AS vals
  FROM h
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(4 AS INT) AS height,
       CAST(nf AS INT) AS n_frames,
       CAST(COALESCE(list_sum(vals), 0) AS BIGINT) AS sum_pixels,
       CAST(COALESCE(len(list_filter(vals, v -> v = 0)), 0)
            + (nf * 64 - nb) AS BIGINT) AS n_zero,
       CAST(CASE WHEN nf * 64 > nb THEN 0
                 ELSE list_aggregate(vals, 'min') END AS INT) AS px_min,
       CAST(CASE WHEN nb = 0 THEN 0
                 ELSE GREATEST(list_aggregate(vals, 'max'), 0) END AS INT)
         AS px_max,
       CAST(COALESCE(list_sum(vals), 0) AS DOUBLE) / (nf * 64) AS mean_pixel
FROM d
"""


QUERIES = {
    "multimodal_gif_frame_stats": multimodal_gif_frame_stats,
    "multimodal_jpeg_block_stats": multimodal_jpeg_block_stats,
    "multimodal_png_pixel_stats": multimodal_png_pixel_stats,
    "multimodal_corrupt_quarantine": multimodal_corrupt_quarantine,
    "multimodal_binary_meta": multimodal_binary_meta,
    "multimodal_feature_extract": multimodal_feature_extract,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_resize_pixels": multimodal_resize_pixels,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_image_ahash": multimodal_image_ahash,
    "embedding_near_dups": embedding_near_dups,
}

ORACLE = {
    "multimodal_gif_frame_stats": _GIF_STATS_SQL,
    "multimodal_jpeg_block_stats": _JPEG_STATS_SQL,
    "multimodal_png_pixel_stats": _PNG_STATS_SQL,
    "multimodal_corrupt_quarantine": _QUARANTINE_SQL,
    "multimodal_binary_meta": _BINARY_META_SQL,
    "multimodal_feature_extract": _FEATURE_SQL,
    "multimodal_audio_features": _AUDIO_SQL,
    "multimodal_resize_pixels": _RESIZE_SQL,
    "multimodal_frame_sample": _FRAME_SQL,
    "multimodal_image_ahash": _ahash_sql(),
    "embedding_near_dups": _NEARDUP_SQL,
}
