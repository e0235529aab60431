"""Pure-python FLAC codec (fixed-predictor subset) — no external libs.

The lossless COMPRESSED audio format: unlike WAV (raw) and mu-law
(lossy companding), FLAC actually models the signal — fixed
polynomial predictors of orders 0..4 with Rice-coded residuals. This
module implements the mono/16-bit subset of the format spec:

- :func:`flac_encode` — STREAMINFO metadata block (with the stream
  MD5 the spec mandates), fixed-blocksize frames, per-frame best-of
  fixed predictor (orders 0..4 by residual magnitude), one-partition
  Rice residuals with per-frame parameter choice and the 5-bit
  escape for incompressible blocks, UTF-8 frame numbers, CRC-8
  header / CRC-16 frame checksums.
- :func:`flac_decode` — metadata walk, frame sync + header parse,
  CONSTANT / VERBATIM / FIXED subframes, Rice decode incl. escapes,
  prediction reconstruction, CRC-8/16 verification, final MD5 check
  against STREAMINFO. LPC subframes and stereo refuse loudly.

Lossless: the registry query decodes what the encoder wrote and the
oracle recomputes exact stats straight from the generator formula —
the compression layer must be bit-perfect or the hash breaks.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from python_plugins_spark.operators.multimodal import synth_payloads
from python_plugins_spark.operators.transform import map_rows

_BLOCK = 4096

# spec CRC polynomials (table-driven — the per-bit loops were a
# measurable slice of encode time at 1+ KiB per frame)
_CRC8_POLY, _CRC16_POLY = 0x07, 0x8005


def _make_crc_tables():
    t8, t16 = [], []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ _CRC8_POLY) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ _CRC16_POLY) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t16.append(c)
    return bytes(t8), tuple(t16)


_CRC8_TABLE, _CRC16_TABLE = _make_crc_tables()


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)
    return crc


class _BitWriterBE:
    """MSB-first bit packing (FLAC is big-endian at the bit level)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, bits: int):
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def put_unary(self, q: int):
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a one

    def put_bits(self, bits: np.ndarray):
        """Append an MSB-first 0/1 uint8 bit ARRAY in one vectorized
        packbits call — the Rice residual fast path (the per-value
        put/put_unary loop was ~0.012 s/row of pure-python bit ops)."""
        if len(bits) == 0:
            return
        if self.n:
            lead = np.fromiter(
                ((self.acc >> (self.n - 1 - i)) & 1 for i in range(self.n)),
                np.uint8,
                count=self.n,
            )
            bits = np.concatenate([lead, bits])
            self.acc = 0
            self.n = 0
        rem = len(bits) & 7
        body = bits[: len(bits) - rem] if rem else bits
        self.buf += np.packbits(body).tobytes()
        for b in bits[len(bits) - rem:] if rem else ():
            self.put(int(b), 1)

    def align(self):
        if self.n:
            self.put(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


def _rice_bits(zz: np.ndarray, p: int) -> np.ndarray:
    """Rice-code a zigzagged residual vector into an MSB-first bit
    array, fully vectorized: quotient terminator 1s scattered by
    cumulative code-length offsets, remainder bits painted in p
    vectorized passes (p <= 14)."""
    q = (zz >> p).astype(np.int64)
    lens = q + 1 + p
    offs = np.concatenate(([0], np.cumsum(lens[:-1])))
    bits = np.zeros(int(lens.sum()), np.uint8)
    bits[offs + q] = 1
    for jb in range(p):
        bits[offs + q + 1 + jb] = ((zz >> (p - 1 - jb)) & 1).astype(np.uint8)
    return bits


def _fixed_width_bits(vals: np.ndarray, width: int) -> np.ndarray:
    """Two's-complement fixed-width codes as an MSB-first bit array."""
    m = len(vals)
    u = vals.astype(np.int64) & ((1 << width) - 1)
    offs = np.arange(m, dtype=np.int64) * width
    bits = np.zeros(m * width, np.uint8)
    for jb in range(width):
        bits[offs + jb] = ((u >> (width - 1 - jb)) & 1).astype(np.uint8)
    return bits


def _decode_rice_vec(
    data: bytes, bitpos: int, m: int, p: int
) -> tuple[np.ndarray, int]:
    """Decode m Rice codes starting at absolute ``bitpos``. One
    unpackbits over the remaining payload, then a per-CODE pointer walk
    over the 1-bit positions (quotient terminators) — O(m + #ones)
    trivial steps instead of the per-BIT reader loop — and one
    vectorized gather for all remainder bits."""
    a = bitpos >> 3
    bits = np.unpackbits(np.frombuffer(data, np.uint8)[a:])
    start = bitpos - a * 8
    ones = np.flatnonzero(bits[start:])
    L = len(ones)
    tarr = np.empty(m, np.int64)
    q = np.empty(m, np.int64)
    pos = 0
    j = 0
    for i in range(m):
        while j < L and ones[j] < pos:
            j += 1
        if j >= L:
            raise ValueError("truncated FLAC bitstream")
        ti = int(ones[j])
        j += 1
        tarr[i] = ti
        q[i] = ti - pos
        pos = ti + 1 + p
    if p:
        # the final code's remainder bits must fit inside the unpacked
        # payload — otherwise the gather below would raise a raw
        # IndexError instead of this module's ValueError contract
        if start + int(tarr[-1]) + p >= len(bits):
            raise ValueError("truncated FLAC bitstream")
        idx = start + tarr[:, None] + 1 + np.arange(p, dtype=np.int64)
        w = (1 << np.arange(p - 1, -1, -1)).astype(np.int64)
        u = (q << p) | (bits[idx].astype(np.int64) @ w)
    else:
        u = q
    return (u >> 1) ^ -(u & 1), a * 8 + start + pos


def _decode_fixed_width_vec(
    data: bytes, bitpos: int, m: int, width: int
) -> tuple[np.ndarray, int]:
    """Decode m two's-complement fixed-width codes (the Rice escape)."""
    a = bitpos >> 3
    bits = np.unpackbits(np.frombuffer(data, np.uint8)[a:])
    start = bitpos - a * 8
    if start + m * width > len(bits):
        raise ValueError("truncated FLAC bitstream")
    mat = bits[start: start + m * width].reshape(m, width).astype(np.int64)
    w = (1 << np.arange(width - 1, -1, -1)).astype(np.int64)
    u = mat @ w
    return np.where(u >> (width - 1) & 1, u - (1 << width), u), bitpos + m * width


class _BitReaderBE:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bitpos = pos * 8

    def get(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            byte = self.bitpos >> 3
            if byte >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def get_unary(self) -> int:
        q = 0
        while True:
            if self.get(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway unary code")

    def align(self):
        self.bitpos = (self.bitpos + 7) & ~7

    def byte_pos(self) -> int:
        return self.bitpos >> 3


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style frame-number coding (values < 2^31)."""
    if n < 0x80:
        return bytes([n])
    out, bits = [], 6
    while n >= (1 << bits):
        bits += 5
    nbytes = (bits - 1) // 6 + 1
    lead = (0xFF << (8 - nbytes - 1)) & 0xFF
    out.append(lead | (n >> (6 * (nbytes - 1))))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _read_utf8_number(br: _BitReaderBE) -> int:
    first = br.get(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    n = first & (mask - 1)
    for _ in range(nbytes - 1):
        b = br.get(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation in frame number")
        n = (n << 6) | (b & 0x3F)
    return n


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def flac_encode(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode mono int16 PCM as a FLAC stream (fixed predictors)."""
    pcm = np.asarray(samples, dtype=np.int16)
    if pcm.ndim != 1:
        raise ValueError("flac_encode expects mono int16 samples")
    total = len(pcm)
    md5 = hashlib.md5(pcm.astype("<i2").tobytes()).digest()

    # STREAMINFO: all frames _BLOCK except the last
    si = _BitWriterBE()
    si.put(_BLOCK, 16)
    si.put(_BLOCK, 16)
    si.put(0, 24)  # min frame size unknown
    si.put(0, 24)  # max frame size unknown
    si.put(sample_rate, 20)
    si.put(0, 3)  # channels - 1
    si.put(15, 5)  # bits per sample - 1
    si.put(total, 36)
    info = si.bytes() + md5

    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info  # last block

    for fi, start in enumerate(range(0, max(total, 1), _BLOCK)):
        blk = pcm[start: start + _BLOCK].astype(np.int64)
        n = len(blk)
        if n == 0:
            break
        hdr = _BitWriterBE()
        hdr.put(0b11111111111110, 14)
        hdr.put(0, 1)  # reserved
        hdr.put(0, 1)  # fixed blocksize stream
        hdr.put(0b1100 if n == _BLOCK else 0b0111, 4)  # 4096 / 16-bit-1 follows
        hdr.put(0, 4)  # sample rate: from STREAMINFO
        hdr.put(0, 4)  # channels: mono
        hdr.put(0b100, 3)  # 16 bits per sample
        hdr.put(0, 1)
        header = hdr.bytes() + _utf8_number(fi)
        if n != _BLOCK:
            header += struct.pack(">H", n - 1)
        header += bytes([_crc8(header)])

        body = _BitWriterBE()
        # choose the fixed order with the smallest residual magnitude
        best_order, best_res, best_cost = 0, blk, None
        for order in range(5):
            if n <= order:
                continue
            res = _fixed_residual(blk, order)
            cost = int(np.abs(res).sum())
            if best_cost is None or cost < best_cost:
                best_order, best_res, best_cost = order, res, cost
        if n > 0 and np.all(blk == blk[0]):
            body.put(0, 1)
            body.put(0b000000, 6)  # CONSTANT
            body.put(0, 1)
            body.put(int(blk[0]) & 0xFFFF, 16)
        else:
            body.put(0, 1)
            body.put(0b001000 | best_order, 6)  # FIXED
            body.put(0, 1)
            for w in blk[:best_order]:
                body.put(int(w) & 0xFFFF, 16)
            res = best_res
            # rice parameter: best 4-bit param for one partition
            zz = (res << 1) ^ (res >> 63)  # zigzag to unsigned
            mean = int(zz.mean()) if len(zz) else 0
            p = max(0, min(14, mean.bit_length() - 1))
            rice_bits = int((zz >> p).sum()) + len(zz) * (p + 1)
            # raw width for the escape path: enough two's-complement
            # bits for the WIDEST residual (max(v, ~v) >= 0 has the
            # magnitude bit pattern for either sign). The old constant
            # 17 silently truncated order>=2 residuals, which can need
            # up to ~21 bits on valid int16 input (ADVICE r6).
            widest = int(np.maximum(res, ~res).max()) if len(res) else 0
            raw_bits = min(31, max(1, widest.bit_length() + 1))
            body.put(0b00, 2)  # residual method: rice 4-bit
            body.put(0, 4)  # partition order 0
            if rice_bits > raw_bits * len(zz):
                body.put(15, 4)  # escape
                body.put(raw_bits, 5)  # raw bits per residual
                body.put_bits(_fixed_width_bits(res, raw_bits))
            else:
                body.put(p, 4)
                body.put_bits(_rice_bits(zz, p))
        body.align()
        frame = header + body.bytes()
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


def flac_decode(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a mono 16-bit fixed-predictor FLAC stream ->
    (sample_rate, int16 samples). Verifies CRC-8/16 and STREAMINFO MD5.
    Malformed or truncated input always raises ``ValueError`` (same
    contract as jpeg_decode_gray)."""
    try:
        return _flac_decode_impl(bytes(payload))
    except IndexError as exc:  # short reads anywhere in the parse
        raise ValueError("truncated or malformed FLAC stream") from exc


def _flac_decode_impl(data: bytes) -> tuple[int, np.ndarray]:
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    rate = total = None
    md5_want = None
    while True:
        hdr = data[pos: pos + 4]
        if len(hdr) < 4:
            raise ValueError("truncated metadata")
        last, btype = hdr[0] >> 7, hdr[0] & 0x7F
        size = int.from_bytes(hdr[1:4], "big")
        body = data[pos + 4: pos + 4 + size]
        if btype == 0:  # STREAMINFO
            br = _BitReaderBE(body)
            br.get(16)
            br.get(16)
            br.get(24)
            br.get(24)
            rate = br.get(20)
            if br.get(3) != 0:
                raise ValueError("only mono streams supported")
            if br.get(5) != 15:
                raise ValueError("only 16-bit streams supported")
            total = br.get(36)
            md5_want = body[18:34]
        pos += 4 + size
        if last:
            break
    if rate is None:
        raise ValueError("missing STREAMINFO")

    out = np.zeros(total, dtype=np.int64)
    got = 0
    while got < total:
        frame_start = pos
        br = _BitReaderBE(data, pos)
        if br.get(14) != 0b11111111111110:
            raise ValueError("lost frame sync")
        br.get(1)
        br.get(1)
        bs_code = br.get(4)
        sr_code = br.get(4)
        if br.get(4) != 0:
            raise ValueError("only mono frames supported")
        if br.get(3) != 0b100:
            raise ValueError("only 16-bit frames supported")
        br.get(1)
        _read_utf8_number(br)
        if bs_code == 0b1100:
            n = _BLOCK  # 256 * 2^(0b1100 - 8)
        elif bs_code == 0b0110:
            n = br.get(8) + 1
        elif bs_code == 0b0111:
            n = br.get(16) + 1
        else:
            raise ValueError(f"unsupported blocksize code {bs_code:#06b}")
        if sr_code != 0:
            raise ValueError("per-frame sample rate unsupported")
        hdr_len = br.byte_pos() - frame_start
        if _crc8(data[frame_start: frame_start + hdr_len]) != br.get(8):
            raise ValueError("frame header CRC-8 mismatch")

        br.get(1)
        sft = br.get(6)
        if br.get(1):
            raise ValueError("wasted bits unsupported")
        if sft == 0:  # CONSTANT
            v = br.get(16)
            v = v - 0x10000 if v & 0x8000 else v
            blk = np.full(n, v, dtype=np.int64)
        elif sft == 1:  # VERBATIM
            blk = np.empty(n, dtype=np.int64)
            for i in range(n):
                v = br.get(16)
                blk[i] = v - 0x10000 if v & 0x8000 else v
        elif 8 <= sft <= 12:  # FIXED, order = sft - 8
            order = sft - 8
            warm = []
            for _ in range(order):
                v = br.get(16)
                warm.append(v - 0x10000 if v & 0x8000 else v)
            if br.get(2) != 0:
                raise ValueError("only 4-bit rice residuals supported")
            if br.get(4) != 0:
                raise ValueError("only partition order 0 supported")
            p = br.get(4)
            m = n - order
            if p == 15:  # escape: raw residuals
                wbits = br.get(5)
                res, br.bitpos = _decode_fixed_width_vec(data, br.bitpos, m, wbits)
            else:
                res, br.bitpos = _decode_rice_vec(data, br.bitpos, m, p)
            # prediction reconstruction = order-fold cumulative sum
            # (residual IS the order-th difference): integrate back up,
            # seeding each level with diff^k(warmup)[0] — exact int64,
            # replaces the per-sample python loop
            if order == 0:
                blk = res.astype(np.int64)
            else:
                x0 = np.asarray(warm, dtype=np.int64)
                cur = res.astype(np.int64)
                for k in range(order - 1, -1, -1):
                    d0 = np.diff(x0, k)[0] if k else x0[0]
                    cur = np.concatenate(([d0], d0 + np.cumsum(cur)))
                blk = cur
        else:
            raise ValueError(f"subframe type {sft} unsupported (LPC?)")
        br.align()
        body_end = br.byte_pos()
        crc_want = int.from_bytes(data[body_end: body_end + 2], "big")
        if _crc16(data[frame_start:body_end]) != crc_want:
            raise ValueError("frame CRC-16 mismatch")
        pos = body_end + 2
        out[got: got + n] = blk
        got += n
    pcm = out.astype(np.int16)
    if md5_want != b"\x00" * 16:
        if hashlib.md5(pcm.astype("<i2").tobytes()).digest() != md5_want:
            raise ValueError("decoded audio MD5 mismatch")
    return rate, pcm


# ------------------------------------------------------- Spark operators


def triangle_pcm16(seed: int, n: int) -> np.ndarray:
    """Deterministic SMOOTH test signal: an integer triangle wave of
    period 128 scaled per seed. Unlike the Weyl noise sequence (which
    is white and incompressible), this has a near-zero second
    difference, so the fixed predictors genuinely compress it — the
    registry query asserts the ratio, making the modeling step
    load-bearing, not just the framing."""
    i = np.arange(n, dtype=np.int64)
    tri = np.abs((i % 128) - 64) - 32  # -32..32
    return (tri * (50 + seed % 40)).astype(np.int16)


def synth_flac_payloads(df, id_col: str = "doc_id", n: int = 2048):
    """Per-row FLAC of the deterministic triangle PCM16 signal."""
    return synth_payloads(df, id_col, lambda rid: flac_encode(triangle_pcm16(rid, n)))


def decode_flac_stats(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL FLAC decode per row; exact integer stats + compressed size
    (the compression ratio proves prediction actually models the
    signal — raw would be 2 bytes/sample)."""

    def decode(rid, payload):
        rate, pcm = flac_decode(payload)
        pcm = pcm.astype(np.int64)
        yield rid, rate, len(pcm), int((pcm * pcm).sum()), int(np.abs(pcm).max()), len(payload)

    schema = (
        f"`{id_col}` long, sample_rate int, n_frames int, sum_sq long, peak int, "
        "compressed_bytes int"
    )
    return map_rows(df, [id_col, payload_col], schema, decode)
