"""Multimodal columns: opaque binary payloads with typed metadata.

The engine's convention for image/audio/video at 100 TB scale: the
payload is an opaque ``binary`` column (or, for very large media, an
object-store URI to fetch inside the UDF) plus a typed metadata struct
— never a decoded in-memory representation at rest. All per-media
compute runs through ONE helper, ``map_payload``: an Arrow-batched
``mapInPandas`` pass that maps each payload cell to a fixed tuple of
typed fields, keeps every other column and drops the payload, so
payloads stream through Python in columnar batches without ever landing
on the driver. ``frame_sample`` (one row to many) and ``resize_image``
(payload replaced in place) keep their own shapes.

Decoding: two public container formats are decoded FOR REAL by
dependency-free pure-Python parsers — netpbm images (PGM ``P5`` / PPM
``P6``: header tokenizer with ``#`` comments, dimension/maxval parse,
raster → numpy array, ``decode_netpbm``) and RIFF/WAVE PCM audio
(chunk walk, ``fmt ``/``data`` parse, 8/16-bit samples, ``decode_wav``).
Three COMPRESSED codecs also decode for real: PNG (``decode_png`` —
signature, chunk CRCs, stdlib ``zlib`` inflate, per-scanline unfilter
of all five spec filters; 8-bit gray/RGB/RGBA, with ``encode_png`` as
its fixture-building inverse), baseline JPEG (``jpeg.py``) and GIF
(``gif.py``). MP3/video/progressive JPEG still need external libraries
that are NOT in this environment, so ``decode_image`` falls back to a
gated PIL import for those formats only. ``attach_ppm_media`` /
``attach_wav_media`` build real payloads JVM-side; ``png_payload``,
``jpeg_payload`` and ``gif_payload`` render document text as real
PNG/JPEG/GIF bytes inside the same Python pass that decodes and
measures them (encode → decode → ``raster_stats``, one Arrow crossing),
so every decode path runs end-to-end on actual container bytes and is
oracle-checked (workloads/multimodal.py).
``resize_image`` is a real nearest-neighbor resample over the decoded
netpbm raster.

Scale notes:
- ``mapInPandas`` preserves partitioning — no shuffle for per-row media
  ops; size partitions by bytes (maxPartitionBytes), not row count,
  since payloads dominate.
- Feature extraction emits fixed-width ``array<double>`` — compact,
  column-prunable, and joinable with the similarity ops.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_pipeline_spark.multimodal.gif import decode_gif, encode_gif
from big_data_pipeline_spark.multimodal.jpeg import (
    decode_jpeg_baseline,
    encode_jpeg_baseline,
)

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_N_HIST_BINS = 16


def map_payload(
    df: DataFrame, payload_col: str, fields: str, fn: Callable[[object], tuple]
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass: ``fn`` maps each cell of
    ``payload_col`` to a tuple with one value per field of the DDL
    string ``fields``. The output is every other column of ``df``, in
    order, followed by those fields; the payload column is dropped."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    names = [f.name for f in keep]
    added = T.StructType.fromDDL(fields).fields
    cols = [f.name for f in added]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pd.DataFrame(
                [fn(p) for p in pdf[payload_col]], columns=cols, index=pdf.index
            )
            yield pd.concat([pdf[names], vals], axis=1)

    return df.mapInPandas(run, schema=T.StructType([*keep, *added]))


def attach_fake_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake media: the UTF-8 bytes of ``text_col`` stand in
    for encoded image bytes, with a plausible metadata struct. Lets every
    downstream op run for real without codec libraries."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumns(
        {
            "media": payload,
            "media_meta": F.struct(
                F.lit("image").alias("media_type"),
                F.lit("fake-raw").alias("format"),
                F.octet_length(payload).cast("int").alias("width"),
                F.lit(1).alias("height"),
                F.octet_length(payload).cast("long").alias("n_bytes"),
            ),
        }
    )


_PPM_WIDTH = 16  # attach_ppm_media: 16 RGB pixels/row = 48 raster bytes


def attach_ppm_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Real P6 PPM payloads built JVM-side: header ``P6\\n16 {h}\\n255\\n``
    + raster = the UTF-8 bytes of ``text_col`` zero-padded to h rows of
    16 RGB pixels (h = ceil(n_bytes/48), min 1). Every downstream decode
    runs on genuine image bytes, and because the construction is pure
    SQL over the text column, an independent engine can recompute any
    pixel statistic from the text for oracle checks."""
    raw = F.encode(F.col(text_col), "UTF-8")
    hgt = F.greatest(
        F.lit(1), F.ceil(F.octet_length(raw) / F.lit(3 * _PPM_WIDTH))
    ).cast("int")
    total = (hgt * (3 * _PPM_WIDTH)).cast("int")
    header = F.encode(
        F.concat(
            F.lit(f"P6\n{_PPM_WIDTH} "), hgt.cast("string"), F.lit("\n255\n")
        ),
        "UTF-8",
    )
    # zero-pad the raster to exactly h*48 bytes (pad < 48 by construction)
    raster = F.substring(F.concat(raw, F.lit(bytes(3 * _PPM_WIDTH))), F.lit(1), total)
    payload = F.concat(header, raster)
    return df.withColumns(
        {
            "media": payload,
            "media_meta": F.struct(
                F.lit("image").alias("media_type"),
                F.lit("ppm").alias("format"),
                F.lit(_PPM_WIDTH).alias("width"),
                hgt.alias("height"),
                F.octet_length(payload).cast("long").alias("n_bytes"),
            ),
        }
    )


_WAV_RATE = 8000  # attach_wav_media: 8 kHz mono 8-bit PCM


def _le_hex(value, n_bytes: int):
    """SQL expression: little-endian hex string of ``value`` (a Column)
    over ``n_bytes`` bytes — the building block for binary container
    headers constructed JVM-side (RIFF/WAV uses LE u16/u32 fields)."""
    parts = [
        F.lpad(F.hex(F.shiftright(value, 8 * i) % 256), 2, "0")
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def attach_wav_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Real RIFF/WAVE payloads built JVM-side: the canonical 44-byte PCM
    header (RIFF size, ``fmt `` chunk: PCM, mono, 8 kHz, 8-bit, ``data``
    chunk size) followed by the UTF-8 bytes of ``text_col`` as unsigned
    8-bit samples. Header integers are little-endian, assembled with
    ``_le_hex`` + ``unhex`` so every byte is genuine container format —
    the downstream ``decode_wav`` parser must walk real chunks. Because
    the sample data is the text bytes, an independent engine can
    recompute any sample statistic from the text (hex space) for oracle
    checks."""
    raw = F.encode(F.col(text_col), "UTF-8")
    n = F.octet_length(raw)
    # 'RIFF' | chunk_size=36+n | 'WAVE' | 'fmt ' | 16 | PCM=1 | ch=1
    # | rate | byte_rate | block_align=1 | bits=8 | 'data' | n
    header = F.unhex(
        F.concat(
            F.lit("52494646"),            # 'RIFF'
            _le_hex(n + F.lit(36), 4),
            F.lit("57415645"),            # 'WAVE'
            F.lit("666d7420"),            # 'fmt '
            F.lit("10000000"),            # fmt chunk size 16 (LE)
            F.lit("0100"),                # PCM
            F.lit("0100"),                # mono
            F.lit(f"{_WAV_RATE & 255:02X}{(_WAV_RATE >> 8) & 255:02X}0000"),
            F.lit(f"{_WAV_RATE & 255:02X}{(_WAV_RATE >> 8) & 255:02X}0000"),
            F.lit("0100"),                # block align
            F.lit("0800"),                # 8 bits/sample
            F.lit("64617461"),            # 'data'
            _le_hex(n, 4),
        )
    )
    payload = F.concat(header, raw)
    return df.withColumns(
        {
            "media": payload,
            "media_meta": F.struct(
                F.lit("audio").alias("media_type"),
                F.lit("wav").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.octet_length(payload).cast("long").alias("n_bytes"),
            ),
        }
    )


def decode_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Dependency-free RIFF/WAVE PCM parser (public container format):
    validates the RIFF header, walks sub-chunks (skipping unknown ones,
    honoring the word-aligned padding rule), reads ``fmt `` fields and
    the ``data`` raster. Supports PCM (format tag 1) at 8 or 16 bits.
    Returns ``(channels, sample_rate, bits, samples)`` where samples is
    uint8 (8-bit, unsigned per the WAV spec) or int16 LE (16-bit)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if riff_size + 8 != len(payload):
        raise ValueError(f"RIFF size {riff_size} != payload {len(payload) - 8}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    tag, channels, rate, _byte_rate, _align, bits = fmt
    if tag != 1:
        raise ValueError(f"unsupported WAV format tag {tag} (PCM only)")
    if bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2")
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    return channels, rate, bits, samples


def decoded_audio_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """REAL audio decode path: parse each payload with ``decode_wav``
    and emit per-clip statistics from the DECODED samples — parsed
    channel/rate/bit-depth, duration, and exact integer sample moments
    (sum, sum of squares, min, max) plus the mean as one IEEE division.
    Nothing is carried from metadata, so a chunk-walk or fmt mis-parse
    changes the output."""

    def measure(payload) -> tuple:
        ch, rate, bits, s = decode_wav(bytes(payload))
        n = len(s)
        s64 = s.astype(np.int64)
        total = int(s64.sum())
        return (
            ch,
            rate,
            bits,
            n,
            n * 1000 // rate,
            total,
            int((s64 * s64).sum()),
            int(s.min()) if n else None,
            int(s.max()) if n else None,
            total / n if n else None,
        )

    return map_payload(
        df,
        payload_col,
        "channels int, sample_rate int, bits int, n_samples bigint, "
        "duration_ms bigint, sum_samples bigint, sum_sq bigint, "
        "sample_min int, sample_max int, mean_sample double",
        measure,
    )


def _no_decoder() -> None:
    raise NotImplementedError(
        "decoding this compressed codec (MP3/video/progressive JPEG) "
        "requires a codec library (e.g. PIL/ffmpeg) that is not "
        "available in this environment; netpbm (P5/P6) decodes "
        "natively via decode_netpbm, PNG (8-bit gray/RGB/RGBA) via "
        "decode_png, and baseline sequential JPEG via "
        "multimodal.jpeg.decode_jpeg_baseline"
    )


def decode_netpbm(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    """Dependency-free netpbm decoder (public format: magic, ASCII
    header tokens with ``#`` comments, binary raster). Supports P5
    (grayscale) and P6 (RGB) with maxval <= 255. Returns
    ``(format, width, height, maxval, pixels)`` where pixels is
    (H, W) uint8 for P5 and (H, W, 3) for P6."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: magic={magic!r}")
    # header tokenizer: fields separated by whitespace; '#' starts a
    # comment running to end-of-line; raster begins after exactly ONE
    # whitespace byte following the maxval token
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte that terminates the header
    width, height, maxval = tokens
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported netpbm maxval {maxval}")
    channels = 3 if magic == b"P6" else 1
    n = width * height * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    shape = (height, width, 3) if channels == 3 else (height, width)
    return magic.decode(), width, height, maxval, raster.reshape(shape)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth_vec(a, b, c):
    """PNG Paeth predictor, vectorized over int32 arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray, filters=None) -> bytes:
    """Stdlib-only PNG encoder (``zlib`` + chunk CRCs): 8-bit grayscale
    (H, W), RGB (H, W, 3) or RGBA (H, W, 4), non-interlaced. ``filters``
    picks the per-scanline filter type; the default ``row % 5`` cycles
    through all five spec filters (None/Sub/Up/Average/Paeth) so a
    decoder consuming these payloads must implement real unfiltering,
    not just a zlib pass."""
    import struct
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        color, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color, ch = 2, 3
    elif arr.ndim == 3 and arr.shape[2] == 4:
        color, ch = 6, 4
    else:
        raise ValueError(f"unsupported pixel array shape {arr.shape}")
    h, w = arr.shape[:2]
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    # Filtering only READS original (unfiltered) neighbor bytes, so all
    # five per-row variants vectorize as whole-image 2-D shifts — one
    # numpy pass instead of a per-scanline Python loop (measured 12x on
    # the sf1 corpus; this is the Arrow-batch hot path).
    up = np.vstack([np.zeros((1, stride), np.int32), flat[:-1]])
    pad = np.zeros((h, ch), dtype=np.int32)
    left = np.concatenate([pad, flat[:, :-ch]], axis=1)
    upleft = np.concatenate([pad, up[:, :-ch]], axis=1)
    variants = np.stack(
        [
            flat,
            (flat - left) % 256,
            (flat - up) % 256,
            (flat - (left + up) // 2) % 256,
            (flat - _paeth_vec(left, up, upleft)) % 256,
        ]
    )
    fts = np.asarray(
        [r % 5 for r in range(h)] if filters is None else [int(f) for f in filters],
        dtype=np.int64,
    )
    if len(fts) != h or ((fts < 0) | (fts > 4)).any():
        raise ValueError("filters must give one type in 0-4 per scanline")
    out = np.empty((h, 1 + stride), dtype=np.uint8)
    out[:, 0] = fts
    out[:, 1:] = variants[fts, np.arange(h)].astype(np.uint8)
    raw = out.tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, np.ndarray, list]:
    """Stdlib-only PNG decoder: signature + chunk walk with CRC
    verification, IHDR validation (8-bit depth, grayscale/RGB/RGBA,
    non-interlaced), IDAT concat → ``zlib`` inflate → per-scanline
    UNFILTER of all five spec filter types (the left/up/avg/Paeth
    reconstruction is the part a fake decoder would skip). Returns
    ``(width, height, channels, pixels, filters_seen)`` with pixels
    (H, W) uint8 for grayscale, (H, W, C) otherwise, and filters_seen
    the sorted list of scanline filter types encountered — closes the
    compressed-codec gate (_no_decoder) for one real format."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG payload: head={payload[:8]!r}")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(payload):
        ln, tag = struct.unpack(">I4s", payload[pos : pos + 8])
        pos += 8
        body = payload[pos : pos + ln]
        if len(body) != ln:
            raise ValueError("truncated PNG chunk body")
        pos += ln
        if pos + 4 > len(payload):
            raise ValueError("truncated PNG chunk CRC")
        (crc,) = struct.unpack(">I", payload[pos : pos + 4])
        pos += 4
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG variant: depth={depth} comp={comp} "
            f"filter_method={filt} interlace={interlace}"
        )
    try:
        ch = {0: 1, 2: 3, 6: 4}[color]
    except KeyError:
        raise ValueError(f"unsupported PNG color type {color}") from None
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} != {h * (1 + stride)}"
        )
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    fts_arr = mat[:, 0]
    if (fts_arr > 4).any():
        raise ValueError("PNG scanline filter out of range 0-4")
    data = mat[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    filters_seen = sorted(int(f) for f in set(fts_arr.tolist()))
    for r in range(h):
        ft = fts_arr[r]
        row = data[r]
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = (row + prev) & 0xFF
        elif ft == 1:
            # Sub depends only on the row's own left bytes: per-channel
            # prefix sums mod 256 — vectorized, no scalar loop
            rec = (
                row.reshape(w, ch).cumsum(axis=0, dtype=np.int64) % 256
            ).reshape(stride).astype(np.int32)
        else:
            # Average/Paeth reconstruct sequentially (each byte needs
            # the RECONSTRUCTED left byte); plain-int lists beat numpy
            # scalar indexing ~10x on short scanlines
            rl, pl = row.tolist(), prev.tolist()
            rec_l = [0] * stride
            if ft == 3:
                for i in range(stride):
                    a = rec_l[i - ch] if i >= ch else 0
                    rec_l[i] = (rl[i] + (a + pl[i]) // 2) & 0xFF
            else:
                for i in range(stride):
                    a = rec_l[i - ch] if i >= ch else 0
                    b = pl[i]
                    c = pl[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    rec_l[i] = (rl[i] + pred) & 0xFF
            rec = np.asarray(rec_l, dtype=np.int32)
        out[r] = rec
        prev = rec
    pixels = out.astype(np.uint8)
    pixels = pixels.reshape((h, w) if ch == 1 else (h, w, ch))
    return w, h, ch, pixels, sorted(filters_seen)


# --- text-rendered codec payloads with exactly-known rasters ----------------
# Each *_payload function renders document text as a REAL compressed
# image whose DECODED raster is a pure function of the text bytes, so an
# independent engine recomputes any pixel statistic from the text alone
# (the attach_ppm_media oracle contract) while the Spark side must run
# the actual codec. The codec queries run encode → decode → raster_stats
# per document inside one map_payload pass (workloads/multimodal.py).
#
# - PNG: grayscale 8-bit, 16 pixels per scanline, scanline filter
#   row % 5, so every payload taller than 4 rows exercises all five
#   filters through zlib-compressed IDAT.
# - JPEG: one constant 8x8 block per byte of the first 64 text bytes,
#   16 blocks per MCU row, uniform quantizer 8. A constant block has
#   only its DC coefficient non-zero and 8 divides 8*(v-128) exactly, so
#   ANY correct decode (Huffman tables read from the stream, DC
#   prediction, zigzag, dequantization, IDCT) reconstructs v bit-exactly
#   (jpeg.py module docstring). The byte cap bounds decode cost per
#   document; the AC-bearing path is pinned by round-trip property tests.
# - GIF: animated grayscale, 16x4-pixel frames of 64 text bytes each, up
#   to 4 frames, real variable-width LZW per frame (gif.py) — the
#   frame-walk path on a REAL animated container.

RASTER_STATS_DDL = (
    "sum_pixels bigint, n_zero bigint, px_min int, px_max int, mean_pixel double"
)


def raster_stats(pixels: np.ndarray) -> tuple[int, int, int, int, float]:
    """Integer-exact ``RASTER_STATS_DDL`` fields of a decoded raster:
    pixel sum, zero count, min, max, and the mean as one IEEE division."""
    flat = pixels.reshape(-1).astype(np.int64)
    total = int(flat.sum())
    return (
        total,
        int((flat == 0).sum()),
        int(flat.min()),
        int(flat.max()),
        float(total) / len(flat),
    )


def _text_grid(text: str | None, width: int, cap: int | None = None) -> np.ndarray:
    """The first ``cap`` UTF-8 bytes of ``text`` zero-padded to whole
    rows of ``width`` bytes (at least one row), as a uint8 matrix."""
    b = ("" if text is None else text).encode("utf-8")[:cap]
    rows = max(1, -(-len(b) // width))
    return np.frombuffer(b + bytes(rows * width - len(b)), dtype=np.uint8).reshape(
        rows, width
    )


def png_payload(text: str | None) -> bytes:
    """PNG whose decoded raster is the text bytes on 16-wide scanlines."""
    return encode_png(_text_grid(text, 16))


def jpeg_payload(text: str | None) -> bytes:
    """Baseline JPEG: each of the first 64 text bytes as a constant 8x8
    block, 16 blocks per row (width 128)."""
    grid = _text_grid(text, 16, 64)
    img = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)
    return encode_jpeg_baseline(img, quant=np.full(64, 8))


def gif_payload(text: str | None) -> bytes:
    """Animated GIF: the first 256 text bytes as 16x4 frames."""
    return encode_gif(_text_grid(text, 64, 256).reshape(-1, 4, 16))


def decode_image(payload: bytes):
    """Decode an image payload to a numpy array. Netpbm (P5/P6), PNG
    (8-bit gray/RGB/RGBA), baseline JPEG, and GIF (first frame) decode
    natively with no dependencies; other formats fall back to a gated
    PIL import (not present in this environment)."""
    if payload[:2] in (b"P5", b"P6"):
        return decode_netpbm(payload)[4]
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)[3]
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_baseline(payload)[3]
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)[2][0]
    try:
        import io

        from PIL import Image
    except ImportError:
        _no_decoder()
    return np.asarray(Image.open(io.BytesIO(payload)))


def _nibble_hist(arr: np.ndarray) -> list[float]:
    """Normalized 16-bin histogram of the high nibbles of uint8 bytes."""
    hist = np.bincount(arr >> 4, minlength=_N_HIST_BINS).astype(np.float64)
    total = hist.sum()
    return (hist / total if total else hist).tolist()


def byte_histogram_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """Per-media feature vector: normalized 16-bin byte histogram.

    A deterministic stand-in for a CNN embedding with the identical
    Spark plumbing: Arrow-batched ``mapInPandas``, fixed-width
    ``array<double>`` output. Keyed pass-through columns are preserved.
    """
    return map_payload(
        df,
        payload_col,
        "features array<double>",
        lambda p: (_nibble_hist(np.frombuffer(p, dtype=np.uint8)),),
    )


def decoded_pixel_features(df: DataFrame, payload_col: str = "media") -> DataFrame:
    """REAL decode path: parse each payload with ``decode_netpbm`` and
    emit per-image statistics computed from the DECODED pixel array —
    parsed dimensions/maxval plus the normalized 16-bin high-nibble
    histogram of the pixel bytes. Nothing is carried through from
    metadata: a header mis-parse or raster mis-slice changes the output
    (which is what makes the oracle check meaningful)."""

    def measure(payload) -> tuple:
        _, w, h, mv, pixels = decode_netpbm(bytes(payload))
        return w, h, mv, _nibble_hist(pixels.reshape(-1))

    return map_payload(
        df,
        payload_col,
        "width int, height int, maxval int, features array<double>",
        measure,
    )


def frame_sample(
    df: DataFrame, payload_col: str = "media", frame_bytes: int = 64, stride: int = 4
) -> DataFrame:
    """"Video" frame sampling over an opaque payload: split the byte
    stream into fixed-size frames and keep every ``stride``-th one.
    Real decoders slot into the same mapInPandas signature."""
    in_cols = [c for c in df.columns if c != payload_col]
    out_schema = T.StructType(
        [df.schema[c] for c in in_cols]
        + [
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col]
                n_frames = max(1, len(payload) // frame_bytes)
                for i in range(0, n_frames, stride):
                    rows.append(
                        {
                            **{c: row[c] for c in in_cols},
                            "frame_idx": i,
                            "frame": payload[i * frame_bytes : (i + 1) * frame_bytes],
                        }
                    )
            yield pd.DataFrame(rows, columns=[*in_cols, "frame_idx", "frame"])

    return df.mapInPandas(sample, schema=out_schema)


def resize_netpbm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize: decode a netpbm payload, nearest-neighbor
    resample to ``out_w`` x ``out_h`` (source index = floor(i*src/dst),
    the standard NN convention), re-encode as the same netpbm format.
    Pure numpy fancy-indexing — no codec libraries."""
    fmt, w, h, maxval, px = decode_netpbm(payload)
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    out = px[rows][:, cols]
    header = f"{fmt}\n{out_w} {out_h}\n{maxval}\n".encode()
    return header + out.tobytes()


def resize_image(
    df: DataFrame,
    payload_col: str = "media",
    out_w: int = 8,
    out_h: int = 4,
) -> DataFrame:
    """Resize every image payload to ``out_w`` x ``out_h`` via the real
    netpbm decode → nearest-neighbor → re-encode path (compressed codecs
    would need external libraries and raise inside ``decode_netpbm``).
    Same Arrow-batched mapInPandas plumbing as the other media ops; the
    payload column is replaced in place."""
    out_schema = df.schema

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[payload_col] = [
                resize_netpbm(bytes(p), out_w, out_h) for p in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(resize, schema=out_schema)


def image_ahash(
    df: DataFrame, payload_col: str = "media", grid: int = 8
) -> DataFrame:
    """Perceptual average-hash over REAL decoded images — the classic
    near-duplicate signature for image corpora (aHash: downsample to a
    ``grid``×``grid`` luminance grid, threshold each cell against the
    image mean, read the bits row-major). Everything is integer
    arithmetic — cell luminance is the channel SUM at the
    nearest-neighbor source pixel (floor(i·src/dst), the same rule as
    ``resize_netpbm``) and the threshold comparison is
    ``cells² · cell > total`` — so the bitstring is exactly
    reproducible by the hex-space SQL oracle. One narrow Arrow pass,
    no shuffle; the payload column prunes away immediately after.
    """
    n_cells = grid * grid

    def measure(payload) -> tuple:
        _, w, h, _, px = decode_netpbm(bytes(payload))
        if px.ndim == 2:  # P5: treat gray as a single channel
            px = px[:, :, None]
        ys = (np.arange(grid) * h) // grid
        xs = (np.arange(grid) * w) // grid
        cells = px[ys][:, xs].astype(np.int64).sum(axis=2)
        bits = (n_cells * cells > int(cells.sum())).reshape(-1)
        return "".join("1" if b else "0" for b in bits), int(bits.sum())

    return map_payload(df, payload_col, "ahash string, n_bright int", measure)
