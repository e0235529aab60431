"""Pure-numpy baseline JPEG codec (grayscale + 4:2:0 color) — no
external libs.

Round 4 made WAV/BMP/PPM decode REAL with hand-rolled stdlib codecs;
JPEG stayed behind the ``decode_stub_features`` env gate because no
codec library ships in this container. Round 6 lifted that gap for the
grayscale baseline-sequential subset of ITU-T T.81 with nothing but
numpy; round 7 completes the family with COLOR (the most common
real-world payload):

- **encoders** (:func:`jpeg_encode_gray`, :func:`jpeg_encode_color`):
  level shift, 8x8 blocked DCT-II (one numpy matrix sandwich
  ``M @ block @ M.T``), Annex-K quantization (IJG quality scaling),
  zigzag, DC-difference + run-length AC Huffman coding, 0xFF byte
  stuffing, JFIF/DQT/SOF0/DHT/SOS framing. The color path adds JFIF
  (BT.601 full-range) YCbCr conversion, 4:2:0 chroma subsampling
  (2x2 box average), the Annex-K CHROMINANCE quant/Huffman pairs, and
  the interleaved 16x16-MCU scan (4 Y + Cb + Cr, three DC predictors);
- **decoders** (:func:`jpeg_decode_gray`, :func:`jpeg_decode_color`):
  full marker parse (DQT with 8/16-bit entries, SOF0 with per-component
  sampling factors, DHT canonical rebuild, SOS), stuffed-byte bit
  reader, DC prediction, dequantize, IDCT, clamp, chroma upsample +
  RGB reconstruction, edge crop.

Scope is precise, refusals are loud: baseline sequential (SOF0), one
component unsubsampled OR three components 4:2:0, no restart
intervals. Progressive / exotic-sampling JPEGs raise ``ValueError``
with the reason — the decode is either real or absent, never silently
wrong.

Determinism contract: quantization rounds HALF AWAY FROM ZERO
(``trunc(x/q + sign*0.5)``) — the same convention as Spark's
``round()`` and DuckDB's ``round()`` — so registry oracles can
reproduce the DC-only quantization chain in closed form.

Spark integration is the repo's standard multimodal shape: payloads
are synthesized and decoded by per-row functions inside the
Arrow-batched ``transform.map_rows`` (see ``synth_jpeg_payloads`` /
``decode_jpeg_block_means``),
bytes cross the JVM boundary once per batch. At 100 TB both stages
are narrow maps — no shuffle anywhere in the codec path.
"""

from __future__ import annotations

import functools as _functools

import numpy as np

from python_plugins_spark.operators.multimodal import synth_payloads
from python_plugins_spark.operators.transform import map_rows

# ---------------------------------------------------------------- tables

#: Annex K.1 luminance quantization table (row-major).
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

#: Annex K.2 chrominance quantization table (row-major).
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

#: Annex K.3 luminance DC table: (counts per code length 1..16, symbols).
DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_VALS = tuple(range(12))

#: Annex K.4 chrominance DC table.
DC_BITS_C = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_VALS_C = tuple(range(12))

#: Annex K.6 chrominance AC table.
AC_BITS_C = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_VALS_C = (
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
)

#: Annex K.5 luminance AC table.
AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_VALS = (
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
)


def _zigzag_order() -> np.ndarray:
    """Flat indices of the 8x8 zigzag walk, derived (not hardcoded):
    diagonals d = r+c, even diagonals walked bottom-left -> top-right."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        cells = [(d - c, c) for c in rng]  # increasing column
        if d % 2 == 0:
            cells = cells  # even: up-right == increasing column
        else:
            cells = cells[::-1]
        order.extend(r * 8 + c for r, c in cells)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()

# Orthonormal-per-JPEG DCT matrix: F = M f M^T, f = M^T F M.
_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _canonical_codes(bits, vals):
    """(symbol -> (code, length)) from the DHT (BITS, HUFFVAL) form."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _canonical_codes(DC_BITS, DC_VALS)
_AC_CODES = _canonical_codes(AC_BITS, AC_VALS)
_DC_CODES_C = _canonical_codes(DC_BITS_C, DC_VALS_C)
_AC_CODES_C = _canonical_codes(AC_BITS_C, AC_VALS_C)


def quality_scaled_quant(quality: int, base: np.ndarray = QUANT_LUMA) -> np.ndarray:
    """IJG quality scaling of an Annex-K table (quality 50 == Annex K
    verbatim, the property the registry oracle leans on)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def round_half_away(x: np.ndarray) -> np.ndarray:
    """Element-wise round half away from zero — the convention shared
    with Spark/DuckDB ``round()`` so oracles can mirror quantization."""
    return np.trunc(x + np.sign(x) * 0.5)


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # T.81 byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude_bits(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    q: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    prev_dc: int,
) -> int:
    """DCT + quantize + entropy-code one level-shifted 8x8 block;
    returns the new DC predictor. Shared by the grayscale and the
    color (per-component table pair) encoders.

    The transform output SNAPS to 6 decimals before quantization:
    ``_M @ block @ _M.T`` runs through whatever GEMM kernel the host's
    BLAS selects, and different kernels sum in different orders — a
    constant-243 block's DC is exactly 920.0 on one host and
    919.9999999999999 on another, which lands on opposite sides of the
    q=16 quantization TIE (57.5). The ideal coefficients the oracles
    model are integers or small multiples of 1/8 here, so a 6-dp snap
    absorbs kernel-dependent ulp noise without changing any honest
    value — the codec is then bit-stable across machines."""
    coef = np.round(_M @ block @ _M.T, 6)
    qc = round_half_away(coef / q).astype(np.int64)
    zz = qc.ravel()[ZIGZAG]

    diff = int(zz[0]) - prev_dc
    size = _category(diff)
    code, length = dc_codes[size]
    bw.put(code, length)
    if size:
        bw.put(_amplitude_bits(diff, size), size)

    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.put(c, ln)
            run -= 16
        size = _category(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.put(c, ln)
        bw.put(_amplitude_bits(v, size), size)
        run = 0
    if last < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.put(c, ln)
    return int(zz[0])


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    """Pad a 2-D float plane to multiples of ``mult`` by edge
    replication (the spec's recommendation)."""
    h, w = plane.shape
    ph, pw = -(-h // mult) * mult, -(-w // mult) * mult
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    if pw > w:
        padded[:h, w:] = padded[:h, w - 1: w]
    if ph > h:
        padded[h:, :] = padded[h - 1: h, :]
    return padded


def jpeg_encode_gray(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Baseline-sequential grayscale JPEG of an (h, w) uint8 array."""
    pix = np.asarray(pixels)
    if pix.ndim != 2:
        raise ValueError("jpeg_encode_gray expects a 2-D grayscale array")
    h, w = pix.shape
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError(f"bad dimensions {h}x{w}")
    q = quality_scaled_quant(quality)

    padded = _pad_edge(pix.astype(np.float64), 8)
    padded -= 128.0
    ph, pw = padded.shape

    bw = _BitWriter()
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            prev_dc = _encode_block(
                bw, padded[by: by + 8, bx: bx + 8], q,
                _DC_CODES, _AC_CODES, prev_dc,
            )
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    zz_q = q.ravel()[ZIGZAG].astype(np.uint8).tobytes()
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + zz_q)  # DQT, table 0, 8-bit
    out += seg(
        0xC0,  # SOF0: 8-bit precision, 1 component, no subsampling
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x01" + b"\x01\x11\x00",
    )
    out += seg(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF (BT.601 full-range) RGB -> YCbCr, rounded half away from
    zero and clamped to [0, 255] — integer planes, so the registry
    oracle can replay the conversion with the IDENTICAL double
    expressions (same literals, same evaluation order)."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    clamp = lambda p: np.clip(round_half_away(p), 0, 255)  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def ycbcr_to_rgb(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray
) -> np.ndarray:
    """JFIF YCbCr -> RGB (uint8), same rounding/eval-order contract."""
    yf, cbf, crf = (p.astype(np.float64) for p in (y, cb, cr))
    r = yf + 1.402 * (crf - 128.0)
    g = yf - 0.344136 * (cbf - 128.0) - 0.714136 * (crf - 128.0)
    b = yf + 1.772 * (cbf - 128.0)
    out = np.stack(
        [np.clip(round_half_away(p), 0, 255) for p in (r, g, b)], axis=-1
    )
    return out.astype(np.uint8)


def jpeg_encode_color(rgb: np.ndarray, quality: int = 50) -> bytes:
    """Baseline-sequential COLOR JPEG of an (h, w, 3) uint8 RGB array:
    YCbCr conversion, 4:2:0 chroma subsampling (2x2 box average),
    16x16-MCU interleaved scan (4 Y blocks + Cb + Cr), Annex-K
    luminance AND chrominance quantization/Huffman table pairs,
    per-component DC predictors — the round-7 completion of the
    grayscale codec (the most common real-world payload)."""
    pix = np.asarray(rgb)
    if pix.ndim != 3 or pix.shape[2] != 3:
        raise ValueError("jpeg_encode_color expects an (h, w, 3) RGB array")
    h, w = pix.shape[:2]
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError(f"bad dimensions {h}x{w}")
    qy = quality_scaled_quant(quality, QUANT_LUMA)
    qc = quality_scaled_quant(quality, QUANT_CHROMA)

    y, cb, cr = rgb_to_ycbcr(pix)
    # Y pads to the 16x16 MCU grid; chroma subsamples 2x2 AFTER padding
    # (even dims guaranteed), landing exactly on the 8x8 block grid.
    ypad = _pad_edge(y, 16)
    ph, pw = ypad.shape
    sub = lambda p: (  # noqa: E731 — 2x2 box average
        p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    )
    cbs, crs = sub(_pad_edge(cb, 16)), sub(_pad_edge(cr, 16))
    ypad = ypad - 128.0
    cbs = cbs - 128.0
    crs = crs - 128.0

    bw = _BitWriter()
    pdc_y = pdc_cb = pdc_cr = 0
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            for dy in (0, 8):
                for dx in (0, 8):
                    pdc_y = _encode_block(
                        bw, ypad[my + dy: my + dy + 8, mx + dx: mx + dx + 8],
                        qy, _DC_CODES, _AC_CODES, pdc_y,
                    )
            cy, cx = my // 2, mx // 2
            pdc_cb = _encode_block(
                bw, cbs[cy: cy + 8, cx: cx + 8], qc,
                _DC_CODES_C, _AC_CODES_C, pdc_cb,
            )
            pdc_cr = _encode_block(
                bw, crs[cy: cy + 8, cx: cx + 8], qc,
                _DC_CODES_C, _AC_CODES_C, pdc_cr,
            )
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + qy.ravel()[ZIGZAG].astype(np.uint8).tobytes())
    out += seg(0xDB, b"\x01" + qc.ravel()[ZIGZAG].astype(np.uint8).tobytes())
    out += seg(
        0xC0,  # SOF0: 3 components, Y 2x2 / Cb 1x1 / Cr 1x1 (4:2:0)
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    out += seg(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xC4, b"\x01" + bytes(DC_BITS_C) + bytes(DC_VALS_C))
    out += seg(0xC4, b"\x11" + bytes(AC_BITS_C) + bytes(AC_VALS_C))
    out += seg(0xDA, b"\x03" + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("unexpected marker inside scan")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


@_functools.lru_cache(maxsize=256)
def _decoder_table(bits: bytes, vals: bytes) -> dict:
    """Decoder-side Huffman table ((code, length) -> symbol) memoized
    on the raw DHT (BITS, HUFFVAL) bytes (round 13, guide §4.5): real
    corpora reuse a handful of Huffman tables (most encoders ship the
    Annex-K pair verbatim), yet the decoder rebuilt the canonical
    code assignment and the inverted lookup dict per PAYLOAD —
    measured ~55% of decode CPU on the roundtrip fixtures. The memo
    key is the exact table bytes, so a payload carrying a DIFFERENT
    table can never see a stale entry; the cached dict is shared and
    only ever read (``table.get`` in :func:`_decode_symbol`). The
    cache is per Python worker process and survives across tasks
    under ``spark.python.worker.reuse`` because this module is
    imported by name on the executors."""
    codes = _canonical_codes(tuple(bits), tuple(vals))
    return {(code, length): sym for sym, (code, length) in codes.items()}


def _decode_symbol(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _parse_headers(data: bytes):
    """Walk markers up to (and including) SOS. Returns
    (quant, huff, h, w, components, scan_map, scan_pos) where
    ``components`` is the SOF0 list of (comp_id, h_samp, v_samp, qtab)
    and ``scan_map`` maps comp_id -> (dc_table_id, ac_table_id)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    h = w = None
    declared_ncomp = 0
    components: list[tuple[int, int, int, int]] = []
    scan_map: dict[int, tuple[int, int]] = {}

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("reached EOI before SOS")
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        ln = int.from_bytes(data[pos: pos + 2], "big")
        body = data[pos + 2: pos + ln]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i: i + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    if pq
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                )
                tab = np.zeros(64, dtype=np.int64)
                tab[ZIGZAG] = vals
                quant[tq] = tab.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = body[i + 1: i + 17]
                nv = sum(bits)
                vals = body[i + 17: i + 17 + nv]
                huff[(tc, th)] = _decoder_table(bytes(bits), bytes(vals))
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            # parse only the entries the segment actually carries: a
            # stream CLAIMING n components decides the gray/color
            # refusal by the declared count, not by a short read
            navail = min(ncomp, (len(body) - 6) // 3)
            for c in range(navail):
                cid = body[6 + 3 * c]
                samp = body[7 + 3 * c]
                components.append((cid, samp >> 4, samp & 0xF, body[8 + 3 * c]))
            declared_ncomp = ncomp
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"SOF{marker - 0xC0}: only baseline sequential (SOF0) supported"
            )
        elif marker == 0xDD:  # DRI
            if int.from_bytes(body[:2], "big") != 0:
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            for c in range(ns):
                cid = body[1 + 2 * c]
                tabs = body[2 + 2 * c]
                scan_map[cid] = (tabs >> 4, tabs & 0xF)
            pos += ln
            return quant, huff, h, w, declared_ncomp, components, scan_map, pos
        pos += ln
    raise ValueError("no SOS marker found")


def _decode_block(br: _BitReader, dc_tab: dict, ac_tab: dict, prev_dc: int):
    """Entropy-decode one block -> (dequant-ready zigzag coefs, new DC)."""
    zz = np.zeros(64, dtype=np.int64)
    size = _decode_symbol(br, dc_tab)
    diff = _extend(br.bits(size), size) if size else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _decode_symbol(br, ac_tab)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0xF
        k += run
        if k > 63:
            raise ValueError("AC run overflows block")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    return zz, prev_dc


def _idct_block(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
    coef = np.zeros(64, dtype=np.float64)
    coef[ZIGZAG] = zz
    # 6-dp snap: same BLAS-kernel-independence contract as the forward
    # transform (see _encode_block) — the oracles replay the scalar
    # float chain, and the snapped GEMM result lands on it exactly
    return np.round(_M.T @ (coef.reshape(8, 8) * q) @ _M, 6)


def jpeg_decode_gray(payload: bytes) -> np.ndarray:
    """Decode a grayscale baseline JPEG produced by any conformant
    encoder within this module's scope. Returns (h, w) uint8.
    Malformed or truncated input always raises ``ValueError``."""
    try:
        return _decode_gray(bytes(payload))
    except IndexError as exc:  # short reads anywhere in the parse
        raise ValueError("truncated or malformed JPEG") from exc


def _decode_gray(data: bytes) -> np.ndarray:
    quant, huff, h, w, ncomp, components, scan_map, pos = _parse_headers(data)
    if h is None or not components:
        raise ValueError("missing SOF0/DQT before scan")
    if ncomp != 1:
        raise ValueError(
            f"grayscale baseline only: {ncomp} components "
            "unsupported (use jpeg_decode_color)"
        )
    cid, hs, vs, comp_qtab = components[0]
    if (hs, vs) != (1, 1):
        raise ValueError("subsampling unsupported for single component")
    if comp_qtab not in quant:
        raise ValueError("missing SOF0/DQT before scan")
    comp_dc, comp_ac = scan_map.get(cid, (None, None))
    dc_tab = huff.get((0, comp_dc))
    ac_tab = huff.get((1, comp_ac))
    if dc_tab is None or ac_tab is None:
        raise ValueError("missing Huffman tables for scan")
    q = quant[comp_qtab]

    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    out = np.empty((ph, pw), dtype=np.float64)
    br = _BitReader(data, pos)
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            zz, prev_dc = _decode_block(br, dc_tab, ac_tab, prev_dc)
            out[by: by + 8, bx: bx + 8] = _idct_block(zz, q)
    pix = np.clip(round_half_away(out + 128.0), 0, 255).astype(np.uint8)
    return pix[:h, :w]


def jpeg_decode_color(payload: bytes) -> np.ndarray:
    """Decode a 3-component baseline JPEG with 4:2:0 subsampling
    (Y 2x2, Cb/Cr 1x1 — the layout virtually every camera/web encoder
    emits) into an (h, w, 3) uint8 RGB array. Component planes are
    rounded/clamped to [0, 255] BEFORE the color conversion (standard
    8-bit sample clamping), chroma upsampled by sample replication.
    Other sampling layouts refuse loudly."""
    try:
        return _decode_color(bytes(payload))
    except IndexError as exc:
        raise ValueError("truncated or malformed JPEG") from exc


def _decode_color(data: bytes) -> np.ndarray:
    quant, huff, h, w, ncomp, components, scan_map, pos = _parse_headers(data)
    if h is None or not components:
        raise ValueError("missing SOF0/DQT before scan")
    if ncomp != 3 or len(components) != 3:
        raise ValueError(
            f"color baseline expects 3 components, got {ncomp} "
            "(use jpeg_decode_gray for 1)"
        )
    samps = [(c[1], c[2]) for c in components]
    if samps != [(2, 2), (1, 1), (1, 1)]:
        raise ValueError(
            f"only 4:2:0 (Y 2x2, chroma 1x1) supported, got {samps}"
        )
    tabs = []
    for cid, _hs, _vs, qtab in components:
        if qtab not in quant or cid not in scan_map:
            raise ValueError("missing DQT/SOS entry for component")
        dc_id, ac_id = scan_map[cid]
        dc_tab, ac_tab = huff.get((0, dc_id)), huff.get((1, ac_id))
        if dc_tab is None or ac_tab is None:
            raise ValueError("missing Huffman tables for scan")
        tabs.append((quant[qtab], dc_tab, ac_tab))

    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    ypl = np.empty((ph, pw), dtype=np.float64)
    cbpl = np.empty((ph // 2, pw // 2), dtype=np.float64)
    crpl = np.empty((ph // 2, pw // 2), dtype=np.float64)
    br = _BitReader(data, pos)
    pdc = [0, 0, 0]
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            for dy in (0, 8):
                for dx in (0, 8):
                    zz, pdc[0] = _decode_block(br, tabs[0][1], tabs[0][2], pdc[0])
                    ypl[my + dy: my + dy + 8, mx + dx: mx + dx + 8] = (
                        _idct_block(zz, tabs[0][0])
                    )
            cy, cx = my // 2, mx // 2
            for ci, plane in ((1, cbpl), (2, crpl)):
                zz, pdc[ci] = _decode_block(br, tabs[ci][1], tabs[ci][2], pdc[ci])
                plane[cy: cy + 8, cx: cx + 8] = _idct_block(zz, tabs[ci][0])

    clamp = lambda p: np.clip(round_half_away(p + 128.0), 0, 255)  # noqa: E731
    yq, cbq, crq = clamp(ypl), clamp(cbpl), clamp(crpl)
    cbu = np.repeat(np.repeat(cbq, 2, axis=0), 2, axis=1)
    cru = np.repeat(np.repeat(crq, 2, axis=0), 2, axis=1)
    rgb = ycbcr_to_rgb(yq, cbu, cru)
    return rgb[:h, :w]


# ------------------------------------------------------- Spark operators


def synth_jpeg_payloads(
    df, id_col: str = "doc_id", quality: int = 50
):
    """16x16 grayscale JPEG per row, REAL encoder, Arrow-batched. Each
    of the four 8x8 blocks is constant ``(id * 37 + b * 11) % 256`` —
    constant blocks quantize to a DC-only spectrum, which keeps the
    decode side EXACTLY reproducible in closed form (the registry
    oracle's contract) while still driving the full bitstream path:
    nonzero DC diffs, byte stuffing, EOBs, both Huffman tables."""

    def encode(rid):
        img = np.empty((16, 16), dtype=np.uint8)
        for b, (by, bx) in enumerate(((0, 0), (0, 8), (8, 0), (8, 8))):
            img[by: by + 8, bx: bx + 8] = (rid * 37 + b * 11) % 256
        return jpeg_encode_gray(img, quality)

    return synth_payloads(df, id_col, encode)


_MCU_ORIGINS = ((0, 0), (0, 16), (16, 0), (16, 16))


def synth_color_jpeg_payloads(df, id_col: str = "doc_id", quality: int = 50):
    """32x32 COLOR JPEG per row (REAL 4:2:0 encoder), Arrow-batched.
    Each of the four 16x16 MCU quadrants is a constant RGB color
    derived from (id, mcu) — constant MCUs quantize to DC-only
    spectra in all three components, keeping the decode closed-form
    for the registry oracle while driving the full interleaved
    bitstream: both quant/Huffman table pairs, three DC predictor
    chains, chroma subsampling, byte stuffing."""

    def encode(rid):
        rgb = np.empty((32, 32, 3), dtype=np.uint8)
        for m, (my, mx) in enumerate(_MCU_ORIGINS):
            rgb[my: my + 16, mx: mx + 16, 0] = (rid * 37 + m * 53) % 256
            rgb[my: my + 16, mx: mx + 16, 1] = (rid * 59 + m * 31) % 256
            rgb[my: my + 16, mx: mx + 16, 2] = (rid * 83 + m * 17) % 256
        return jpeg_encode_color(rgb, quality)

    return synth_payloads(df, id_col, encode)


def decode_color_jpeg_mcu_rgb(
    df, id_col: str = "doc_id", payload_col: str = "payload"
):
    """REAL color JPEG decode per row; one output row per 16x16 MCU
    with the reconstructed constant RGB (refuses non-constant decodes
    — the constancy IS the proof the whole 4:2:0 chain is DC-only)."""

    def decode(rid, payload):
        rgb = jpeg_decode_color(payload)
        hh, ww = rgb.shape[:2]
        if (hh, ww) != (32, 32):
            # _MCU_ORIGINS walks a fixed 2x2 grid of 16x16 MCUs;
            # a smaller decode would otherwise surface as a raw
            # IndexError on an empty slice (ADVICE r7)
            raise ValueError(
                f"decode_color_jpeg_mcu_rgb expects the 32x32 "
                f"synth fixture, got {hh}x{ww} at id={rid}"
            )
        for m, (my, mx) in enumerate(_MCU_ORIGINS):
            quad = rgb[my: my + 16, mx: mx + 16]
            if not (quad == quad[0, 0]).all():
                raise ValueError(f"constant fixture decoded non-constant at id={rid} mcu={m}")
            yield (rid, m, ww, hh, *map(int, quad[0, 0]))

    schema = f"`{id_col}` long, mcu int, width int, height int, r_rec int, g_rec int, b_rec int"
    return map_rows(df, [id_col, payload_col], schema, decode)


def decode_jpeg_block_means(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL JPEG decode per row; emits dimensions + the mean of each
    8x8 block as exact integers (constant blocks decode to constant
    values, so the mean IS the reconstructed level)."""

    def decode(rid, payload):
        img = jpeg_decode_gray(payload)
        hh, ww = img.shape
        levels = []
        for by, bx in ((0, 0), (0, 8), (8, 0), (8, 8)):
            blk = img[by: by + 8, bx: bx + 8]
            if not (blk == blk[0, 0]).all():
                raise ValueError(f"constant fixture decoded non-constant at id={rid}")
            levels.append(int(blk[0, 0]))
        yield rid, ww, hh, *levels

    schema = f"`{id_col}` long, width int, height int, b00 int, b01 int, b10 int, b11 int"
    return map_rows(df, [id_col, payload_col], schema, decode)
