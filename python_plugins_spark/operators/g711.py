"""G.711 audio companding (mu-law AND A-law) + WAV framing — stdlib/numpy.

The telephony codec pair: 16-bit PCM logarithmically companded to 8
bits across eight segments (ITU-T G.711; the classic Sun/CCITT
reference formulations). Mu-law (format-7 WAV, North American trunks):
16→14-bit shift, bias 132, segment search, mantissa-complement wire
bytes. A-law (format-6 WAV, European trunks, round 7): 16→13-bit
shift, NO bias (hence no clip-overflow arm), one's-complement negative
magnitudes, even-bit inversion (XOR 0x55/0xD5) on the wire. Everything
is exact integer math, so the registry oracles
(`audio_mulaw_roundtrip_real`, `audio_alaw_roundtrip_real`) replay the
full decode(encode(x)) chain in SQL with CASE-arm segments and bit
ops — the audio codecs whose entire lossy path is closed-form.

WAV integration: RIFF files with audio format 7 (mu-law, 8 bits per
sample) written and parsed here — the stdlib ``wave`` module only
does PCM, so the chunk walk is hand-rolled like the round-4 parser.

Spark shape: per-row functions in the Arrow-batched
``transform.map_rows``, vectorized numpy companding (no per-sample
Python), zero shuffles.
"""

from __future__ import annotations

import struct

import numpy as np

from python_plugins_spark.operators.multimodal import synth_pcm16_array, synth_payloads
from python_plugins_spark.operators.transform import map_rows

_BIAS = 0x84  # 132
_CLIP14 = 8159  # 14-bit clip after the >>2 scaling
_SEG_END = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int64
)


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 PCM -> mu-law bytes (uint8), vectorized."""
    x = np.asarray(samples, dtype=np.int64)
    p = x >> 2  # arithmetic: 16-bit -> 14-bit domain
    neg = p < 0
    p = np.minimum(np.abs(p), _CLIP14) + (_BIAS >> 2)  # bias 33
    seg = np.searchsorted(_SEG_END, p)  # first segment with p <= end
    # biased clip (8159+33 = 8192) overflows the last segment end
    # (8191): G.711's reference encoder emits the max-magnitude code
    over = seg >= 8
    seg = np.minimum(seg, 7)
    uval = np.where(over, 0x7F, (seg << 4) | ((p >> (seg + 1)) & 0xF))
    mask = np.where(neg, 0x7F, 0xFF)
    return (uval ^ mask).astype(np.uint8)


def mulaw_decode(wire: np.ndarray) -> np.ndarray:
    """mu-law bytes -> int16 PCM, vectorized (Sun ulaw2linear)."""
    u = (~np.asarray(wire, dtype=np.int64)) & 0xFF
    t = (((u & 0xF) << 3) + _BIAS) << ((u & 0x70) >> 4)
    out = np.where((u & 0x80) != 0, _BIAS - t, t - _BIAS)
    return out.astype(np.int16)


# A-law: the OTHER G.711 half (European trunks). Like mu-law it is
# fully formula-defined — 13-bit domain (>>3), inverted-sign-magnitude
# segment search WITHOUT a bias, even-bit inversion (XOR 0x55 /
# 0xD5) on the wire — so the entire lossy chain is exact integer math
# and closed-form in the SQL oracle.
_SEG_AEND = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int64
)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 PCM -> A-law bytes (uint8), vectorized (Sun/CCITT
    linear2alaw). No bias, so unlike mu-law there is no clip-overflow
    arm: 16-bit input lands in segments 0..7 exactly."""
    x = np.asarray(samples, dtype=np.int64)
    p = x >> 3  # arithmetic: 16-bit -> 13-bit domain
    neg = p < 0
    m = np.where(neg, -p - 1, p)  # one's-complement magnitude
    seg = np.searchsorted(_SEG_AEND, m)  # first segment with m <= end
    shift = np.where(seg < 2, 1, seg)  # segments 0/1 share step 2
    aval = (seg << 4) | ((m >> shift) & 0xF)
    mask = np.where(neg, 0x55, 0xD5)  # even-bit inversion + sign
    return (aval ^ mask).astype(np.uint8)


def alaw_decode(wire: np.ndarray) -> np.ndarray:
    """A-law bytes -> int16 PCM midpoints, vectorized (alaw2linear)."""
    av = np.asarray(wire, dtype=np.int64) ^ 0x55
    q = (av & 0xF) << 4
    sg = (av & 0x70) >> 4
    t = np.where(
        sg == 0,
        q + 8,
        (q + 0x108) << np.maximum(sg - 1, 0),
    )
    return np.where((av & 0x80) != 0, t, -t).astype(np.int16)


def _wav_g711_bytes(payload: bytes, fmt_code: int, sample_rate: int) -> bytes:
    # fmt chunk: non-PCM formats require the extension-size field (cbSize=0)
    fmt = struct.pack("<HHIIHHH", fmt_code, 1, sample_rate, sample_rate, 1, 8, 0)
    chunks = b"WAVE"
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunks += b"\x00"  # RIFF word alignment
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def wav_mulaw_bytes(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono format-7 (mu-law) WAV of int16 PCM samples."""
    return _wav_g711_bytes(mulaw_encode(samples).tobytes(), 7, sample_rate)


def wav_alaw_bytes(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono format-6 (A-law) WAV of int16 PCM samples."""
    return _wav_g711_bytes(alaw_encode(samples).tobytes(), 6, sample_rate)


def parse_wav_mulaw(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a mono format-7 WAV -> (sample_rate, n_frames, int16 PCM).
    Hand-rolled chunk walk (odd-size padding honored); refuses
    non-mu-law formats loudly."""
    return _parse_wav_g711(payload, 7, "mu-law", mulaw_decode)


def parse_wav_alaw(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a mono format-6 WAV -> (sample_rate, n_frames, int16 PCM)."""
    return _parse_wav_g711(payload, 6, "A-law", alaw_decode)


def _parse_wav_g711(
    payload: bytes, want_fmt: int, name: str, decoder
) -> tuple[int, int, np.ndarray]:
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, raw, rate = 12, None, None, None
    while pos + 8 <= len(data):
        cid = data[pos: pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4: pos + 8])
        body = data[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            fmt, nch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != want_fmt:
                raise ValueError(
                    f"audio format {fmt} is not {name} ({want_fmt})"
                )
            if nch != 1 or bits != 8:
                raise ValueError(f"mono 8-bit {name} expected")
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size % 2)  # odd chunks pad one byte
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    return rate, len(raw), decoder(np.frombuffer(raw, dtype=np.uint8))


# ------------------------------------------------------- Spark operators


def synth_mulaw_wav_payloads(df, id_col: str = "doc_id", n: int = 2048):
    """Per-row format-7 WAV of the shared Weyl-sequence PCM16 signal
    (multimodal.synth_pcm16_array), mu-law companded by the REAL
    encoder."""
    return synth_payloads(df, id_col, lambda rid: wav_mulaw_bytes(synth_pcm16_array(rid, n)))


def synth_alaw_wav_payloads(df, id_col: str = "doc_id", n: int = 2048):
    """Per-row format-6 WAV of the shared Weyl-sequence PCM16 signal,
    A-law companded by the REAL encoder."""
    return synth_payloads(df, id_col, lambda rid: wav_alaw_bytes(synth_pcm16_array(rid, n)))


def decode_alaw_wav_stats(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL A-law WAV parse+decode per row; exact integer stats."""
    return _decode_g711_wav_stats(df, parse_wav_alaw, id_col, payload_col)


def decode_mulaw_wav_stats(df, id_col: str = "doc_id", payload_col: str = "payload"):
    """REAL mu-law WAV parse+decode per row; exact integer stats of
    the reconstructed PCM."""
    return _decode_g711_wav_stats(df, parse_wav_mulaw, id_col, payload_col)


def _decode_g711_wav_stats(df, parser, id_col: str, payload_col: str):
    def decode(rid, payload):
        rate, n, pcm = parser(payload)
        mag = np.abs(pcm.astype(np.int64))
        yield rid, rate, n, int(pcm.sum(dtype=np.int64)), int(mag.sum()), int(mag.max())

    schema = f"`{id_col}` long, sample_rate int, n_frames int, sum_dec long, sum_abs long, peak int"
    return map_rows(df, [id_col, payload_col], schema, decode)
