"""Stdlib+numpy baseline JPEG codec (ITU-T T.81 sequential DCT).

Round-5 VERDICT item 5: PNG closed the "no real compressed codec" gap;
baseline JPEG is the last widely-hit format a multimodal corpus
pipeline meets. This module implements BOTH directions with no codec
library:

- :func:`encode_jpeg_baseline` — level shift → 8x8 FDCT (float64
  matrix form) → quantization → zigzag → DC differential coding →
  run-length AC coding → canonical Huffman entropy coding with 0xFF
  byte stuffing, emitting a self-contained interchange stream
  (SOI, APP0/JFIF, DQT, SOF0, DHT, optional DRI, SOS, ECS, EOI).
  Grayscale (H, W) and RGB (H, W, 3) via JFIF YCbCr, 4:4:4 sampling.
- :func:`decode_jpeg_baseline` — full marker parse (tables read FROM
  the stream, not assumed), 16-bit-peek Huffman LUT decode of the
  entropy-coded segment (byte unstuffing + RSTn restart handling),
  dequantize, batched inverse DCT over all blocks of a component in
  one einsum, sampling-factor upsampling (h, v in {1, 2}), crop,
  level unshift + clamp, and JFIF YCbCr→RGB for 3-component scans.

Determinism contract (what lets a JPEG query be CELL-EXACT despite
JPEG being lossy): a constant 8x8 block has only its DC coefficient
non-zero; with the DC quantizer dividing 8·(v−128) exactly, the
reconstruction is mathematically the constant v again, and every step
of any correct IDCT evaluates it without a rounding decision closer
than ~1e-12 to a half-integer. jpeg_payload (columns.py) renders
document text as such block-constant payloads inside the same Arrow
pass that decodes and measures them, so the DuckDB twin recomputes the
expected raster statistics from the text bytes alone —
while THIS decoder still has to get the Huffman tables, DC prediction,
zigzag, dequantization, IDCT and block layout right to reproduce them.
The general (AC-bearing) path is pinned by round-trip property tests:
coefficient-exact through entropy coding, and pixel-error-bounded
through the full lossy loop.

Tables: the quantization and Huffman tables below are the "typical"
tables of ITU-T T.81 Annex K (public spec). Correctness does not
depend on them being byte-identical to the spec — the decoder reads
whatever DQT/DHT the stream carries — they only make the emitted files
spec-typical.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position -> natural (row-major) index
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# T.81 Annex K.1 luminance quantization table (natural order)
STD_QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)

# T.81 Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal DCT-II basis: _DCT_C[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
# FDCT: F = C @ f @ C.T ;  IDCT: f = C.T @ F @ C  (C is orthogonal)
_DCT_C = np.zeros((8, 8), dtype=np.float64)
for _u in range(8):
    for _x in range(8):
        _DCT_C[_u, _x] = (
            (np.sqrt(1.0 / 8.0) if _u == 0 else np.sqrt(2.0 / 8.0))
            * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
        )


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 canonical code assignment."""
    table: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """(size-category, appended bits) for a DC diff / AC value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align_marker(self, marker_byte: int) -> None:
        """1-fill pad to a byte boundary, then emit a bare marker."""
        if self.nbits:
            self.write(0xFF, 8 - self.nbits)
        self.buf += bytes([0xFF, marker_byte])

    def done(self) -> bytes:
        if self.nbits:
            self.write(0xFF, 8 - self.nbits)  # 1-fill final byte
        return bytes(self.buf)


def _blockify(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a (H, W) plane to 8-multiples by edge replication and return
    (n_blocks, 8, 8) float blocks in MCU raster order + block grid."""
    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    blocks = (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    return blocks.astype(np.float64), bh, bw


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def encode_jpeg_baseline(
    pixels: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 as baseline JPEG
    (4:4:4, one scan). ``quant`` is a 64-entry natural-order table used
    for every component (default: Annex K luminance)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        planes = [arr.astype(np.float64)]
    elif arr.ndim == 3 and arr.shape[2] == 3:
        r = arr[..., 0].astype(np.float64)
        g = arr[..., 1].astype(np.float64)
        b = arr[..., 2].astype(np.float64)
        # JFIF RGB -> YCbCr
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
        planes = [y, cb, cr]
    else:
        raise ValueError(f"unsupported pixel array shape {arr.shape}")
    h, w = arr.shape[:2]
    q = np.asarray(
        STD_QUANT_LUMA if quant is None else quant, dtype=np.int64
    ).reshape(64)
    if ((q < 1) | (q > 255)).any():
        raise ValueError("8-bit quantization table entries must be 1..255")

    ncomp = len(planes)
    dc_tbl = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_tbl = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_tbl_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_tbl_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    # quantized zigzag coefficients per component
    comp_coeffs = []
    for plane in planes:
        blocks, bh, bw = _blockify(plane)
        f = np.einsum("ux,nxy,vy->nuv", _DCT_C, blocks - 128.0, _DCT_C)
        zz = f.reshape(-1, 64)[:, ZIGZAG]
        # round-half-away-from-zero: deterministic, sign-symmetric
        qc = np.sign(zz) * np.floor(np.abs(zz) / q[ZIGZAG] + 0.5)
        comp_coeffs.append(qc.astype(np.int64))

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0]) + bytes(int(v) for v in q[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])  # id, 1x1 sampling, quant table 0
    out += _seg(0xC0, sof)

    def dht(klass: int, ident: int, bits: list[int], vals: list[int]) -> bytes:
        return _seg(
            0xC4, bytes([(klass << 4) | ident]) + bytes(bits) + bytes(vals)
        )

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if ncomp == 3:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tbl = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tbl << 4) | tbl])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    wtr = _BitWriter()
    n_blocks = comp_coeffs[0].shape[0]
    pred = [0] * ncomp
    rst = 0
    for bi in range(n_blocks):  # 4:4:4 -> MCU = one block per component
        if restart_interval and bi and bi % restart_interval == 0:
            wtr.align_marker(0xD0 + (rst % 8))
            rst += 1
            pred = [0] * ncomp
        for ci in range(ncomp):
            dct, act = (dc_tbl, ac_tbl) if ci == 0 else (dc_tbl_c, ac_tbl_c)
            zz = comp_coeffs[ci][bi]
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            size, extra = _magnitude(diff)
            code, ln = dct[size]
            wtr.write(code, ln)
            if size:
                wtr.write(extra, size)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, cl = act[0xF0]  # ZRL
                    wtr.write(c, cl)
                    run -= 16
                size, extra = _magnitude(v)
                c, cl = act[(run << 4) | size]
                wtr.write(c, cl)
                wtr.write(extra, size)
                run = 0
            if run:
                c, cl = act[0x00]  # EOB
                wtr.write(c, cl)
    out += wtr.done()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _decode_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """65536-entry peek-16 LUT: lut[window] = (symbol << 8) | code_len."""
    lut = np.full(1 << 16, -1, dtype=np.int32)
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            base = code << (16 - ln)
            lut[base : base + (1 << (16 - ln))] = (vals[k] << 8) | ln
            code += 1
            k += 1
        code <<= 1
    return lut


class _BitReader:
    """Entropy-coded-segment reader: 0xFF00 unstuffing, RSTn awareness,
    marker stop."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.marker is not None or self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # zero-pad past the end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                else:  # a real marker terminates bit reading
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self._fill(n)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Byte-align and consume an expected RSTn marker."""
        self.nbits = 0
        self.acc = 0
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            self.marker = None
            self.pos += 2  # past FF Dn
            return
        # marker may not have been reached yet if padding bits remained
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected RSTn restart marker in entropy data")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map ``size`` received bits to the signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_baseline(
    payload: bytes,
) -> tuple[int, int, int, np.ndarray]:
    """Decode a baseline sequential JPEG. Returns ``(width, height,
    channels, pixels)`` — pixels (H, W) uint8 for grayscale, (H, W, 3)
    RGB (JFIF YCbCr conversion) for color. Supports component sampling
    factors in {1, 2}, multiple DQT/DHT segments, and restart markers.
    Raises ValueError on anything that is not an 8-bit baseline stream
    (progressive, arithmetic, 12-bit, hierarchical)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG payload: head={payload[:2]!r}")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hlut: dict[tuple[int, int], np.ndarray] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker sync at byte {pos}")
        # ITU-T T.81 B.1.1.2: any number of 0xFF fill bytes may pad
        # before a marker; skip them so spec-legal padded streams parse.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(payload):
            break
        marker = payload[pos + 1]
        if marker in (0xC2, 0xC3) or 0xC5 <= marker <= 0xCB or 0xCD <= marker <= 0xCF:
            raise ValueError(
                f"not baseline sequential (SOF marker 0x{marker:02x})"
            )
        ln = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quantization tables")
                tbl = np.frombuffer(
                    body[b + 1 : b + 65], dtype=np.uint8
                ).astype(np.int64)
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = tbl
                qtables[tq] = nat
                b += 65
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                klass, ident = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = list(body[b + 17 : b + 17 + n])
                hlut[(klass, ident)] = _decode_lut(bits, vals)
                b += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline-compatible)
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(f"unsupported sampling factors {hi}x{vi}")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for si in range(ns):
                cs, tt = body[1 + 2 * si : 3 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 0xF))
            pixels = _decode_scan(
                payload, pos, frame, scan, qtables, hlut, restart_interval
            )
            nc = len(frame["comps"])
            return frame["w"], frame["h"], nc, pixels
        elif marker == 0xD9:  # EOI before SOS
            break
        # APPn / COM / others: skipped via their length field
    raise ValueError("no SOS scan found in JPEG stream")


def _decode_scan(payload, pos, frame, scan, qtables, hlut, restart_interval):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    store = []
    for comp, _, _ in scan:
        bw, bh = mcux * comp["h"], mcuy * comp["v"]
        store.append(np.zeros((bh * bw, 64), dtype=np.int64))
    rdr = _BitReader(payload, pos)
    pred = [0] * len(scan)
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            rdr.restart()
            pred = [0] * len(scan)
        my, mx = divmod(m, mcux)
        for si, (comp, tdc, tac) in enumerate(scan):
            dlut, alut = hlut[(0, tdc)], hlut[(1, tac)]
            for v in range(comp["v"]):
                for hh in range(comp["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    e = int(dlut[rdr.peek16()])
                    if e < 0:
                        raise ValueError("invalid DC Huffman code")
                    size, cl = e >> 8, e & 0xFF
                    rdr.skip(cl)
                    diff = _extend(rdr.receive(size), size)
                    pred[si] += diff
                    zz[0] = pred[si]
                    k = 1
                    while k < 64:
                        e = int(alut[rdr.peek16()])
                        if e < 0:
                            raise ValueError("invalid AC Huffman code")
                        rs, cl = e >> 8, e & 0xFF
                        rdr.skip(cl)
                        run, size = rs >> 4, rs & 0xF
                        if size == 0:
                            if run == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        zz[k] = _extend(rdr.receive(size), size)
                        k += 1
                    row = my * comp["v"] + v
                    col = mx * comp["h"] + hh
                    store[si][row * (mcux * comp["h"]) + col] = zz
    planes = []
    for si, (comp, _, _) in enumerate(scan):
        q = qtables[comp["tq"]]
        coeffs = np.zeros_like(store[si], dtype=np.float64)
        coeffs[:, ZIGZAG] = store[si] * q[ZIGZAG]
        blocks = coeffs.reshape(-1, 8, 8)
        recon = np.einsum("ux,nuv,vy->nxy", _DCT_C, blocks, _DCT_C) + 128.0
        bw = mcux * comp["h"]
        bh = mcuy * comp["v"]
        plane = (
            recon.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.clip(np.round(plane), 0, 255)
        # upsample to full resolution by replication, then crop
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[: frame["h"], : frame["w"]])
    if len(planes) == 1:
        return planes[0].astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
