"""Pure-stdlib TIFF codec (uncompressed baseline) — no external libs.

Fifth member of the real-codec family. Baseline TIFF is a directory
format: an IFD of typed tags pointing at strip data — no compression
machinery at all in the baseline profile, which makes it the format
scientific pipelines actually move raw arrays in. Scope:

- :func:`tiff_encode` — 8-bit grayscale or RGB, single strip,
  little-endian ("II"), the baseline-required tags (width, length,
  bits/sample, compression=1, photometric, strip offset/bytecount,
  samples/pixel, rows/strip);
- :func:`tiff_decode` — full IFD walk honoring the tag TYPES (SHORT
  vs LONG, inline vs offset values), both byte orders ("II" and
  "MM"), multi-strip assembly, and loud refusals for compressed,
  tiled, planar, or non-8-bit files.

Lossless by definition — the registry query reuses the shared
generator-formula oracle (five wire formats, one SQL statement).
Spark integration is the standard shape: per-row functions in the
Arrow-batched ``transform.map_rows``.
"""

from __future__ import annotations

import struct

import numpy as np

from python_plugins_spark.operators.multimodal import (
    decode_rgb_stats, formula_rgb, synth_payloads,
)

# baseline tag ids
_W, _H, _BITS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PLANAR = 284

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def tiff_encode(pixels: np.ndarray) -> bytes:
    """Encode (h, w) gray or (h, w, 3) RGB uint8 as a little-endian
    single-strip uncompressed baseline TIFF."""
    pix = np.asarray(pixels, dtype=np.uint8)
    if pix.ndim == 2:
        spp, photo = 1, 1  # BlackIsZero
        data = pix.tobytes()
    elif pix.ndim == 3 and pix.shape[2] == 3:
        spp, photo = 3, 2  # RGB
        data = pix.tobytes()
    else:
        raise ValueError("tiff_encode expects (h,w) gray or (h,w,3) RGB uint8")
    h, w = pix.shape[:2]

    # layout: header(8) + pixel data + IFD
    data_off = 8
    ifd_off = data_off + len(data)
    entries = []

    def entry(tag, typ, count, value):
        entries.append(struct.pack("<HHI", tag, typ, count) + value)

    def short_val(v):
        return struct.pack("<HH", v, 0)

    def long_val(v):
        return struct.pack("<I", v)

    entry(_W, 4, 1, long_val(w))
    entry(_H, 4, 1, long_val(h))
    if spp == 1:
        entry(_BITS, 3, 1, short_val(8))
    else:
        # three SHORTs do not fit inline: store after the IFD
        entry(_BITS, 3, 3, long_val(0))  # offset patched below
    entry(_COMP, 3, 1, short_val(1))  # uncompressed
    entry(_PHOTO, 3, 1, short_val(photo))
    entry(_STRIP_OFF, 4, 1, long_val(data_off))
    entry(_SPP, 3, 1, short_val(spp))
    entry(_ROWS_PER_STRIP, 4, 1, long_val(h))
    entry(_STRIP_CNT, 4, 1, long_val(len(data)))

    n = len(entries)
    ifd_size = 2 + 12 * n + 4
    extra_off = ifd_off + ifd_size
    if spp == 3:  # patch the BitsPerSample offset
        for i, e in enumerate(entries):
            tag, typ, cnt = struct.unpack("<HHI", e[:8])
            if tag == _BITS:
                entries[i] = e[:8] + struct.pack("<I", extra_off)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += data
    out += struct.pack("<H", n)
    for e in sorted(entries, key=lambda e: struct.unpack("<H", e[:2])[0]):
        out += e
    out += struct.pack("<I", 0)  # next IFD
    if spp == 3:
        out += struct.pack("<HHH", 8, 8, 8)
    return bytes(out)


def tiff_decode(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 8-bit gray/RGB baseline TIFF, honoring
    both byte orders, typed tag values, and multi-strip layouts."""
    data = bytes(payload)
    try:
        return _decode(data)
    except (IndexError, struct.error) as exc:
        raise ValueError("truncated or malformed TIFF") from exc


def _decode(data: bytes) -> np.ndarray:
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic != 42:
        raise ValueError("not a TIFF (magic != 42)")
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    (n,) = struct.unpack(bo + "H", data[ifd_off: ifd_off + 2])

    def tag_values(typ, count, raw):
        size = _TYPE_SIZES.get(typ)
        if size is None:
            return None  # types we never need (RATIONAL etc. skipped)
        total = size * count
        if total <= 4:
            buf = raw[:total]
        else:
            (off,) = struct.unpack(bo + "I", raw)
            buf = data[off: off + total]
        if typ == 3:
            return list(struct.unpack(bo + f"{count}H", buf))
        if typ == 4:
            return list(struct.unpack(bo + f"{count}I", buf))
        if typ in (1, 2):
            return list(buf)
        return None

    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = data[ifd_off + 2 + 12 * i: ifd_off + 2 + 12 * (i + 1)]
        tag, typ, count = struct.unpack(bo + "HHI", e[:8])
        vals = tag_values(typ, count, e[8:12])
        if vals is not None:
            tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return v[0]

    w, h = one(_W), one(_H)
    comp = one(_COMP, 1)
    if comp != 1:
        raise ValueError(f"compression {comp} unsupported (baseline only)")
    if one(_PLANAR, 1) != 1:
        raise ValueError("planar configuration unsupported (chunky only)")
    spp = one(_SPP, 1)
    bits = tags.get(_BITS, [8])
    if any(b != 8 for b in bits):
        raise ValueError(f"bits per sample {bits} unsupported (8 only)")
    if spp not in (1, 3):
        raise ValueError(f"{spp} samples/pixel unsupported (1 or 3)")
    offs = tags.get(_STRIP_OFF)
    cnts = tags.get(_STRIP_CNT)
    if not offs or not cnts or len(offs) != len(cnts):
        raise ValueError("missing strip offsets/bytecounts")
    raw = b"".join(data[o: o + c] for o, c in zip(offs, cnts))
    need = w * h * spp
    if len(raw) < need:
        raise ValueError("strip data shorter than image")
    arr = np.frombuffer(raw[:need], dtype=np.uint8)
    return arr.reshape(h, w) if spp == 1 else arr.reshape(h, w, 3)


# ------------------------------------------------------- Spark operators


def synth_tiff_payloads(df, id_col: str = "doc_id", width: int = 13, height: int = 12):
    """Per-row RGB TIFF with the shared generator-formula pixels."""
    return synth_payloads(df, id_col, lambda rid: tiff_encode(formula_rgb(rid, width, height)))


def decode_tiff_stats(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL TIFF decode per row; exact per-channel pixel sums."""
    return decode_rgb_stats(df, id_col, payload_col, tiff_decode)
