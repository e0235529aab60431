"""Pure-python GIF codec (87a/89a, palette images) — no external libs.

Fourth member of the real-codec family (BMP/PPM round 4, JPEG/PNG
round 6): GIF's only nontrivial machinery is LZW with variable code
widths, implementable exactly in stdlib python. Scope:

- :func:`gif_encode` — GIF89a with a per-image palette built from the
  image's distinct colors (≤256, the format's own limit), full LZW
  compression with clear-code table resets at 4096 entries,
  little-endian bit packing, 255-byte sub-block framing.
- :func:`gif_decode` — header + logical-screen parse, global AND
  local color tables, extension-block skip (GCE/comment/application),
  complete LZW decode (variable widths 3..12, clear/EOI, the
  "code == next" KwKwK case). Interlaced images refuse loudly.

A 13x12 formula image has ≤156 distinct colors, so GIF holds the
EXACT RGB pixels (palette indirection, but lossless) — the registry
query ``image_gif_roundtrip_real`` reuses the same generator-formula
oracle as BMP/PPM/PNG: four wire formats, one SQL statement. Spark
integration is the standard shape: per-row functions in the
Arrow-batched ``transform.map_rows``.
"""

from __future__ import annotations

import struct

import numpy as np

from python_plugins_spark.operators.multimodal import (
    decode_rgb_stats, formula_rgb, synth_payloads,
)


# ----------------------------------------------------------------- LZW


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1

    out = bytearray()
    acc = n = 0

    def put(code: int, w: int):
        nonlocal acc, n
        acc |= code << n  # little-endian bit packing
        n += w
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    put(clear, width)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        put(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code > 4096:
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = (px,)
    if seq:
        put(table[seq], width)
        # the decoder appends one more entry while processing this
        # final code and grows its width if that append hits 2^width —
        # mirror that phantom growth or EOI is read at the wrong width
        if next_code == (1 << width) and width < 12:
            width += 1
    put(eoi, width)
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = acc = n = 0

    def get(w: int) -> int:
        nonlocal pos, acc, n
        while n < w:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << n
            pos += 1
            n += 8
        v = acc & ((1 << w) - 1)
        acc >>= w
        n -= w
        return v

    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    width = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    while True:
        code = get(width)
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):  # KwKwK
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


# ----------------------------------------------------------------- GIF


def gif_encode(pixels: np.ndarray) -> bytes:
    """Encode (h, w, 3) RGB uint8 with ≤256 distinct colors as GIF89a
    (per-image global color table, lossless by construction)."""
    pix = np.asarray(pixels, dtype=np.uint8)
    if pix.ndim != 3 or pix.shape[2] != 3:
        raise ValueError("gif_encode expects (h, w, 3) RGB uint8")
    h, w, _ = pix.shape
    flat = pix.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(
            f"{len(colors)} distinct colors exceed GIF's 256-entry palette"
        )
    # palette size must be a power of two >= 2
    pal_bits = max(1, int(np.ceil(np.log2(max(2, len(colors))))))
    pal_n = 1 << pal_bits
    palette = np.zeros((pal_n, 3), dtype=np.uint8)
    palette[: len(colors)] = colors

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1), 0, 0])
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    min_code = max(2, pal_bits)
    out.append(min_code)
    lzw = _lzw_encode([int(i) for i in inverse], min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i: i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def gif_decode(payload: bytes) -> np.ndarray:
    """Decode a non-interlaced palette GIF to (h, w, 3) RGB uint8.
    Malformed or truncated input always raises ``ValueError``."""
    try:
        return _decode(bytes(payload))
    except (IndexError, struct.error) as exc:  # short reads anywhere
        raise ValueError("truncated or malformed GIF") from exc


def _decode(data: bytes) -> np.ndarray:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    sw, sh = struct.unpack("<HH", data[6:10])
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos: pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            raise ValueError("no image data before GIF trailer")
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while True:
                sz = data[pos]
                pos += 1
                if sz == 0:
                    break
                pos += sz
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, w, h = struct.unpack("<HHHH", data[pos: pos + 8])
        iflags = data[pos + 8]
        pos += 9
        if iflags & 0x40:
            raise ValueError("interlaced GIF unsupported")
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(data[pos: pos + 3 * n], dtype=np.uint8).reshape(
                n, 3
            )
            pos += 3 * n
        if pal is None:
            raise ValueError("no color table for image")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            sz = data[pos]
            pos += 1
            if sz == 0:
                break
            lzw += data[pos: pos + sz]
            pos += sz
        indices = _lzw_decode(bytes(lzw), min_code)
        if len(indices) < w * h:
            raise ValueError("LZW stream shorter than image")
        idx = np.array(indices[: w * h], dtype=np.int64).reshape(h, w)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idx]
    raise ValueError("truncated GIF (no trailer)")


# ------------------------------------------------------- Spark operators


def synth_gif_payloads(df, id_col: str = "doc_id", width: int = 13, height: int = 12):
    """Per-row GIF with the shared generator-formula pixels (≤ w*h
    distinct colors, so the palette holds them exactly)."""
    return synth_payloads(df, id_col, lambda rid: gif_encode(formula_rgb(rid, width, height)))


def decode_gif_stats(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL GIF decode per row; exact per-channel pixel sums."""
    return decode_rgb_stats(df, id_col, payload_col, gif_decode)
