"""Multimodal plumbing: fake media, feature extraction, frame sampling,
decoder stub behavior."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_pipeline_spark.multimodal import (
    attach_fake_media,
    byte_histogram_features,
    decode_image,
    frame_sample,
    resize_image,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "a" * 300)], ["doc_id", "text"]
    )


def test_attach_fake_media_schema_and_meta(docs):
    out = attach_fake_media(docs)
    row = out.filter("doc_id = 1").first()
    assert bytes(row["media"]) == b"hello world"
    assert row["media_meta"]["n_bytes"] == 11
    assert row["media_meta"]["media_type"] == "image"


def test_byte_histogram_features_sum_to_one(docs):
    feats = byte_histogram_features(attach_fake_media(docs).select("doc_id", "media"))
    pdf = feats.toPandas().set_index("doc_id")
    for _, row in pdf.iterrows():
        v = np.array(row["features"])
        assert len(v) == 16
        assert abs(v.sum() - 1.0) < 1e-12
    # 'aaaa...' is a single byte value → one bin holds all mass
    assert max(pdf.loc[2, "features"]) == 1.0


def test_frame_sample_shapes(docs):
    frames = frame_sample(
        attach_fake_media(docs).select("doc_id", "media"), frame_bytes=64, stride=4
    ).toPandas()
    # doc 2: 300 bytes → 4 full frames → indices 0 (stride 4 keeps 0th)
    d2 = frames[frames["doc_id"] == 2]
    assert list(d2["frame_idx"]) == [0]
    assert len(bytes(d2["frame"].iloc[0])) == 64
    # doc 1: 11 bytes → 1 frame, the full payload
    d1 = frames[frames["doc_id"] == 1]
    assert len(bytes(d1["frame"].iloc[0])) == 11


def test_decoder_gates_compressed_codecs_only(docs):
    # baseline JPEG decodes natively since round 6 (PNG since round 5);
    # a truncated JPEG is now a decode ValueError, not a codec gate
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0JFIF")
    # formats with no native decoder still gate honestly
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x20ftypisom video payload")


def test_png_roundtrip_all_filters_and_shapes():
    """encode_png -> decode_png is the identity for every spec filter
    type and gray/RGB/RGBA shapes; filters_seen reports what the
    decoder had to undo."""
    import numpy as np

    from big_data_pipeline_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in [(5, 16), (7, 9, 3), (4, 4, 4), (1, 1), (11, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        for filters in (None, *([ft] * shape[0] for ft in range(5))):
            w, h, ch, out, fts = decode_png(encode_png(px, filters))
            assert (out == px).all()
            assert (h, w) == shape[:2]
            assert ch == (shape[2] if len(shape) == 3 else 1)
            if filters is not None:
                assert fts == [filters[0]]
    # the default schedule cycles all five filters
    px = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    assert decode_png(encode_png(px))[4] == [0, 1, 2, 3, 4]


def test_png_sub_filter_bytes_hand_checked():
    """The Sub-filtered scanline stores left-deltas: raster
    [10, 20, 40] -> filter byte 1 then [10, 10, 20]."""
    import struct
    import zlib

    import numpy as np

    from big_data_pipeline_spark.multimodal import encode_png

    payload = encode_png(np.array([[10, 20, 40]], dtype=np.uint8), [1])
    idat = payload[8 + 25:]  # signature + 25-byte IHDR chunk
    (ln,) = struct.unpack(">I", idat[:4])
    assert zlib.decompress(idat[8 : 8 + ln]) == bytes([1, 10, 10, 20])


def test_png_decoder_rejects_corruption():
    import numpy as np

    from big_data_pipeline_spark.multimodal import decode_png, encode_png

    good = encode_png(np.zeros((4, 8), dtype=np.uint8))
    flipped = bytearray(good)
    flipped[30] ^= 0xFF  # inside IHDR body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(flipped))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"P6\n1 1\n255\nxyz")
    with pytest.raises(ValueError, match="truncated|missing IHDR"):
        decode_png(good[: len(good) - 16])


def test_png_payload_roundtrips_through_decoder():
    """The rendered payloads are genuine PNGs whose decoded raster is
    exactly the text bytes zero-padded to 16-wide scanlines."""
    from big_data_pipeline_spark.multimodal import decode_png, png_payload

    for text in ("hello png world", "x" * 40, "", "é" * 30):
        w, h, ch, px, fts = decode_png(png_payload(text))
        b = text.encode("utf-8")
        hgt = max(1, -(-len(b) // 16))
        assert (w, h, ch) == (16, hgt, 1)
        assert px.reshape(-1).tobytes() == b + bytes(hgt * 16 - len(b))
        assert fts == sorted({r % 5 for r in range(hgt)})


def test_decode_netpbm_p6_with_comments():
    from big_data_pipeline_spark.multimodal import decode_netpbm

    raster = bytes(range(2 * 2 * 3))
    payload = b"P6\n# a comment\n2 # trailing\n2\n255\n" + raster
    fmt, w, h, mv, px = decode_netpbm(payload)
    assert (fmt, w, h, mv) == ("P6", 2, 2, 255)
    assert px.shape == (2, 2, 3)
    assert px.tobytes() == raster


def test_decode_netpbm_p5_grayscale():
    from big_data_pipeline_spark.multimodal import decode_netpbm

    payload = b"P5 3 2 15\n" + bytes([0, 1, 2, 3, 4, 5])
    fmt, w, h, mv, px = decode_netpbm(payload)
    assert (fmt, w, h, mv) == ("P5", 3, 2, 15)
    assert px.shape == (2, 3)
    assert px[1, 2] == 5


def test_decode_netpbm_rejects_bad_input():
    from big_data_pipeline_spark.multimodal import decode_netpbm

    with pytest.raises(ValueError, match="magic"):
        decode_netpbm(b"P3\n1 1\n255\n1 2 3")  # ASCII variant unsupported
    with pytest.raises(ValueError, match="maxval"):
        decode_netpbm(b"P6\n1 1\n65535\n" + bytes(6))
    with pytest.raises(ValueError):  # truncated raster
        decode_netpbm(b"P6\n4 4\n255\n" + bytes(5))


def test_attach_ppm_media_roundtrips_through_decoder(docs):
    from big_data_pipeline_spark.multimodal import attach_ppm_media, decode_netpbm

    rows = {
        r["doc_id"]: r
        for r in attach_ppm_media(docs).select("doc_id", "text", "media").collect()
    }
    for doc_id, r in rows.items():
        fmt, w, h, mv, px = decode_netpbm(bytes(r["media"]))
        raw = r["text"].encode()
        assert (fmt, w, mv) == ("P6", 16, 255)
        assert h == max(1, -(-len(raw) // 48))
        # raster = text bytes zero-padded to h*48
        assert px.reshape(-1).tobytes() == raw + bytes(h * 48 - len(raw))


def test_decoded_pixel_features_from_real_bytes(docs):
    from big_data_pipeline_spark.multimodal import (
        attach_ppm_media,
        decoded_pixel_features,
    )

    feats = decoded_pixel_features(
        attach_ppm_media(docs).select("doc_id", "media")
    ).toPandas().set_index("doc_id")
    # doc 2: 300 'a' bytes (0x61, nibble 6) + 36 pad zeros in 7 rows
    r = feats.loc[2]
    assert (r["width"], r["height"], r["maxval"]) == (16, 7, 255)
    v = np.array(r["features"])
    assert abs(v[6] - 300 / 336) < 1e-15
    assert abs(v[0] - 36 / 336) < 1e-15
    assert abs(v.sum() - 1.0) < 1e-12


def test_decode_wav_walks_chunks_and_padding():
    import struct

    from big_data_pipeline_spark.multimodal import decode_wav

    # hand-built container: a LIST chunk of odd size (exercises the
    # word-alignment rule) BEFORE fmt/data, 16-bit stereo PCM
    samples = struct.pack("<6h", -3, 7, 100, -100, 32767, -32768)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    chunks = (
        b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd + pad
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    ch, rate, bits, s = decode_wav(payload)
    assert (ch, rate, bits) == (2, 44100, 16)
    assert s.tolist() == [-3, 7, 100, -100, 32767, -32768]


def test_decode_wav_rejects_bad_input():
    import struct

    from big_data_pipeline_spark.multimodal import decode_wav

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + bytes(40))
    # size field inconsistent with payload length
    bad = b"RIFF" + struct.pack("<I", 999) + b"WAVE"
    with pytest.raises(ValueError, match="size"):
        decode_wav(bad)


def test_attach_wav_media_roundtrips_through_decoder(docs):
    from big_data_pipeline_spark.multimodal import attach_wav_media, decode_wav

    rows = attach_wav_media(docs).select("doc_id", "text", "media").collect()
    for r in rows:
        raw = r["text"].encode()
        ch, rate, bits, s = decode_wav(bytes(r["media"]))
        assert (ch, rate, bits) == (1, 8000, 8)
        assert s.tobytes() == raw  # data chunk is exactly the text bytes


def test_decoded_audio_features_from_real_bytes(docs):
    from big_data_pipeline_spark.multimodal import (
        attach_wav_media,
        decoded_audio_features,
    )

    media = attach_wav_media(docs).select("doc_id", "media")
    out = {r["doc_id"]: r for r in decoded_audio_features(media).collect()}
    raw = b"hello world"
    r = out[1]
    assert r["n_samples"] == len(raw)
    assert r["duration_ms"] == len(raw) * 1000 // 8000
    assert r["sum_samples"] == sum(raw)
    assert r["sum_sq"] == sum(b * b for b in raw)
    assert (r["sample_min"], r["sample_max"]) == (min(raw), max(raw))
    assert r["mean_sample"] == sum(raw) / len(raw)
    assert out[2]["sample_min"] == out[2]["sample_max"] == ord("a")


def test_resize_netpbm_nearest_neighbor_exact():
    from big_data_pipeline_spark.multimodal import decode_netpbm, resize_netpbm

    # 2x2 RGB: distinct corner colors; upsample to 4x4 → 2x2 blocks
    corners = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    raster = b"".join(bytes(c) for c in corners)
    payload = b"P6\n2 2\n255\n" + raster
    up = resize_netpbm(payload, 4, 4)
    fmt, w, h, mv, px = decode_netpbm(up)
    assert (fmt, w, h, mv) == ("P6", 4, 4, 255)
    assert tuple(px[0, 0]) == tuple(px[1, 1]) == corners[0]
    assert tuple(px[0, 3]) == corners[1]
    assert tuple(px[3, 0]) == corners[2]
    assert tuple(px[3, 3]) == corners[3]
    # downsample back: NN picks the top-left of each block
    down = resize_netpbm(up, 2, 2)
    assert decode_netpbm(down)[4].tobytes() == raster


def test_resize_image_dataframe_path(docs):
    from big_data_pipeline_spark.multimodal import (
        attach_ppm_media,
        decode_netpbm,
        resize_image,
    )

    media = attach_ppm_media(docs).select("doc_id", "media")
    out = resize_image(media, out_w=8, out_h=4).collect()
    for r in out:
        fmt, w, h, mv, px = decode_netpbm(bytes(r["media"]))
        assert (fmt, w, h, mv) == ("P6", 8, 4, 255)


def test_image_ahash_groups_planted_duplicates(spark):
    from big_data_pipeline_spark.multimodal import image_ahash

    def ppm(seed: int) -> bytes:
        raster = bytes(((i * 31 + seed * 97) % 251) for i in range(16 * 4 * 3))
        return b"P6\n16 4\n255\n" + raster

    rows = [
        (1, ppm(1)),
        (2, ppm(1)),  # exact duplicate of 1
        (3, ppm(2)),
        (4, ppm(3)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = {r.doc_id: r for r in image_ahash(df).collect()}
    assert out[1].ahash == out[2].ahash
    assert out[1].ahash != out[3].ahash or out[1].ahash != out[4].ahash
    for r in out.values():
        assert len(r.ahash) == 64 and set(r.ahash) <= {"0", "1"}
        assert r.n_bright == r.ahash.count("1")


# --- baseline JPEG codec (round-6: closes the last codec-gate format) -------


def test_jpeg_constant_blocks_exact_all_values():
    """Every byte value 0..255 as a constant 8x8 block reconstructs
    EXACTLY under quantizer 8 — the determinism contract the cell-exact
    oracle of multimodal_jpeg_block_stats rests on."""
    import numpy as np

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    vals = np.arange(256, dtype=np.uint8).reshape(16, 16)
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    pay = encode_jpeg_baseline(img, quant=np.full(64, 8))
    w, h, ch, px = decode_jpeg_baseline(pay)
    assert (w, h, ch) == (128, 128, 1)
    assert (px == img).all()


def test_jpeg_roundtrip_near_lossless_with_unit_quant():
    """quant=1 keeps every DCT coefficient to nearest-integer rounding:
    random images (non-trivial AC coefficients, Huffman run-lengths,
    ZRL, EOB, DC prediction chains) round-trip within 1 gray level —
    pins the general entropy-coding + IDCT path, not just DC."""
    import numpy as np

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(123)
    for shape in [(33, 50), (8, 8), (9, 17)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, px = decode_jpeg_baseline(
            encode_jpeg_baseline(img, quant=np.ones(64))
        )
        assert (w, h, ch) == (shape[1], shape[0], 1)
        assert np.abs(px.astype(int) - img.astype(int)).max() <= 1


def test_jpeg_rgb_roundtrip_and_lossy_sanity():
    import numpy as np

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    w, h, ch, px = decode_jpeg_baseline(
        encode_jpeg_baseline(img, quant=np.ones(64))
    )
    assert (w, h, ch) == (23, 17, 3)
    # YCbCr float roundtrip: within a few levels per channel
    assert np.abs(px.astype(int) - img.astype(int)).max() <= 4
    # default (Annex K) tables: lossy but structured content survives
    grad = np.tile(np.arange(64, dtype=np.uint8) * 4, (16, 1))
    _, _, _, gx = decode_jpeg_baseline(encode_jpeg_baseline(grad))
    assert np.abs(gx.astype(int) - grad.astype(int)).mean() < 8


def test_jpeg_restart_markers_reset_dc_prediction():
    import numpy as np

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(9)
    vals = rng.integers(0, 256, size=(4, 7), dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    pay = encode_jpeg_baseline(img, quant=np.full(64, 8), restart_interval=3)
    assert any(
        pay[i] == 0xFF and 0xD0 <= pay[i + 1] <= 0xD7
        for i in range(2, len(pay) - 2)
    )
    _, _, _, px = decode_jpeg_baseline(pay)
    assert (px == img).all()


def test_jpeg_rejects_non_baseline_and_garbage():
    import numpy as np
    import pytest

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg_baseline(b"PK\x03\x04 not a jpeg")
    pay = bytearray(
        encode_jpeg_baseline(np.zeros((8, 8), dtype=np.uint8))
    )
    sof = pay.index(b"\xff\xc0")
    pay[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_baseline(bytes(pay))


def test_decode_image_dispatches_jpeg():
    import numpy as np

    from big_data_pipeline_spark.multimodal import decode_image
    from big_data_pipeline_spark.multimodal.jpeg import encode_jpeg_baseline

    img = np.full((8, 16), 77, dtype=np.uint8)
    out = decode_image(encode_jpeg_baseline(img, quant=np.full(64, 8)))
    assert (out == img).all()


# --- GIF codec (round-6: third real compressed format, multi-frame) ---------


def test_gif_roundtrip_single_and_multiframe():
    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import decode_gif, encode_gif

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(13, 29), dtype=np.uint8)
    w, h, frames = decode_gif(encode_gif(img))
    assert (w, h, len(frames)) == (29, 13, 1)
    assert (frames[0] == img).all()
    fr = [rng.integers(0, 256, size=(8, 16), dtype=np.uint8) for _ in range(5)]
    w, h, frames = decode_gif(encode_gif(fr))
    assert len(frames) == 5
    assert all((a == b).all() for a, b in zip(frames, fr))


def test_gif_lzw_dictionary_growth_reset_and_compression():
    """A 200x300 raster pushes LZW through every code width up to the
    12-bit cap and at least one dictionary reset; repetitive content
    must actually COMPRESS (real LZW, not a store)."""
    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import decode_gif, encode_gif

    rng = np.random.default_rng(11)
    big = rng.integers(0, 256, size=(200, 300), dtype=np.uint8)
    assert (decode_gif(encode_gif(big))[2][0] == big).all()
    rep = np.tile(np.arange(16, dtype=np.uint8), (64, 64))
    pay = encode_gif(rep)
    assert (decode_gif(pay)[2][0] == rep).all()
    assert len(pay) < rep.size // 10  # 64 KiB raster -> ~2.6 KiB


def test_gif_interlace_and_all_values():
    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import decode_gif, encode_gif

    allv = np.arange(256, dtype=np.uint8).reshape(16, 16)
    assert (decode_gif(encode_gif(allv, interlace=True))[2][0] == allv).all()
    assert (decode_gif(encode_gif(allv))[2][0] == allv).all()


def test_gif_rejects_garbage_and_truncation():
    import numpy as np
    import pytest

    from big_data_pipeline_spark.multimodal.gif import decode_gif, encode_gif

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"RIFFxxxxWAVE")
    pay = encode_gif(np.full((8, 8), 7, dtype=np.uint8))
    with pytest.raises(ValueError):
        decode_gif(pay[: len(pay) // 2])


def test_decode_image_dispatches_gif_first_frame():
    import numpy as np

    from big_data_pipeline_spark.multimodal import decode_image
    from big_data_pipeline_spark.multimodal.gif import encode_gif

    fr = [np.full((4, 8), v, dtype=np.uint8) for v in (9, 200)]
    out = decode_image(encode_gif(fr))
    assert (out == fr[0]).all()


def _gif_frame_bytes(raster, ix, iy, gce=None):
    """Hand-build one GIF rendering block: optional GCE + image
    descriptor + LZW raster. gce = (disposal, transparent_index|None)."""
    import struct

    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import (
        _lzw_encode,
        _sub_blocks,
    )

    raster = np.asarray(raster, dtype=np.uint8)
    ih, iw = raster.shape
    out = bytearray()
    if gce is not None:
        disposal, transp = gce
        packed = (disposal & 0x7) << 2 | (0 if transp is None else 1)
        out += b"\x21\xf9\x04" + bytes(
            (packed, 0, 0, 0 if transp is None else transp)
        ) + b"\x00"
    out += b"\x2c" + struct.pack("<HHHHB", ix, iy, iw, ih, 0)
    out += bytes([8]) + _sub_blocks(_lzw_encode(raster.ravel()))
    return bytes(out)


def _gif_stream(w, h, blocks, bg=0):
    import struct

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, bg, 0)
    for i in range(256):
        out += bytes((i, i, i))
    for b in blocks:
        out += b
    out += b"\x3b"
    return bytes(out)


def test_gif_descriptor_exceeding_screen_raises_valueerror():
    """A descriptor extending past the logical screen must raise the
    documented ValueError on BOTH composite paths (ADVICE r7: the
    transparent path used to surface a numpy IndexError instead)."""
    import numpy as np
    import pytest

    from big_data_pipeline_spark.multimodal.gif import decode_gif

    patch = np.full((3, 3), 9, dtype=np.uint8)
    # 3x3 patch anchored at (2,2) on a 4x4 screen -> overhangs by 1
    for gce in (None, (0, 0)):  # opaque and transparent-index paths
        pay = _gif_stream(4, 4, [_gif_frame_bytes(patch, 2, 2, gce=gce)])
        with pytest.raises(ValueError, match="exceeds logical screen"):
            decode_gif(pay)


def test_gif_disposal_and_transparency_composite():
    """Foreign animated GIFs: partial frames must composite onto the
    prior canvas per the GCE disposal method, honoring the transparency
    index (ADVICE r6) — not paste onto a fresh zero canvas."""
    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import decode_gif

    f1 = np.full((4, 4), 10, dtype=np.uint8)
    # partial 2x2 patch at (1,1); index 0 marked transparent
    patch = np.array([[0, 20], [20, 0]], dtype=np.uint8)
    pay = _gif_stream(
        4,
        4,
        [
            _gif_frame_bytes(f1, 0, 0, gce=(1, None)),  # do not dispose
            _gif_frame_bytes(patch, 1, 1, gce=(0, 0)),  # transp idx 0
        ],
    )
    w, h, frames = decode_gif(pay)
    assert (w, h, len(frames)) == (4, 4, 2)
    assert (frames[0] == f1).all()
    want = f1.copy()
    want[1, 2] = 20
    want[2, 1] = 20  # transparent cells keep the 10s underneath
    assert (frames[1] == want).all()


def test_gif_disposal_restore_background_and_previous():
    import numpy as np

    from big_data_pipeline_spark.multimodal.gif import decode_gif

    base = np.full((3, 3), 50, dtype=np.uint8)
    dot = np.array([[99]], dtype=np.uint8)
    tail = np.array([[77]], dtype=np.uint8)
    # disposal=2: after frame 2 shows the dot, its region reverts to
    # the background index (7) before frame 3 composites at (2,2).
    pay = _gif_stream(
        3,
        3,
        [
            _gif_frame_bytes(base, 0, 0, gce=(1, None)),
            _gif_frame_bytes(dot, 0, 0, gce=(2, None)),
            _gif_frame_bytes(tail, 2, 2, gce=(0, None)),
        ],
        bg=7,
    )
    frames = decode_gif(pay)[2]
    assert frames[1][0, 0] == 99
    assert frames[2][0, 0] == 7  # restored to background
    assert frames[2][2, 2] == 77
    assert frames[2][1, 1] == 50  # untouched canvas persists
    # disposal=3: after frame 2, the canvas reverts to frame 1's state.
    pay = _gif_stream(
        3,
        3,
        [
            _gif_frame_bytes(base, 0, 0, gce=(1, None)),
            _gif_frame_bytes(dot, 1, 1, gce=(3, None)),
            _gif_frame_bytes(tail, 2, 2, gce=(0, None)),
        ],
    )
    frames = decode_gif(pay)[2]
    assert frames[1][1, 1] == 99
    assert frames[2][1, 1] == 50  # restored to previous, not 99
    assert frames[2][2, 2] == 77


def test_jpeg_tolerates_fill_bytes_before_markers():
    """ITU-T T.81 B.1.1.2 permits 0xFF fill bytes before any marker;
    some encoders pad — the parser must skip them (ADVICE r6)."""
    import numpy as np

    from big_data_pipeline_spark.multimodal.jpeg import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    img = np.full((16, 16), 128, dtype=np.uint8)
    pay = encode_jpeg_baseline(img)
    # inject fill bytes before the DQT marker (first 0xFFDB)
    i = pay.index(b"\xff\xdb")
    padded = pay[:i] + b"\xff\xff\xff" + pay[i:]
    w, h, ch, out = decode_jpeg_baseline(padded)
    assert (w, h, ch) == (16, 16, 1)
    assert (out == decode_jpeg_baseline(pay)[3]).all()
