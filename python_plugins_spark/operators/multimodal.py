"""Multimodal column conventions: opaque binary payloads + typed metadata.

The engine's convention for image/audio/video data at 100 TB scale:

- the raw bytes live in a ``binary`` column (``payload``),
- a sibling ``StructType`` column carries typed metadata
  (``n_bytes``, ``content_md5``, ``mime``),
- decode / feature-extraction / synthesis run through one Arrow-
  batched row map (``transform.map_rows``, on ``mapInArrow``) so the
  bytes cross the JVM<->Python boundary once per batch, never per
  row. Each codec keeps only its per-row function and its output
  schema.

External codec libraries (PIL/opencv/ffmpeg) are not in this
container. The one format still needing them (MP3) keeps the STUB:
``decode_stub_features`` raises ``NotImplementedError`` unless
``fake=True`` (deterministic pseudo-features from the payload's md5).
Formats decodable with pure stdlib/numpy code are REAL:

- JPEG — grayscale baseline-sequential encode AND decode in pure
  numpy (Annex-K quantization + Huffman, byte stuffing, full JFIF
  marker parse) — ``operators/jpeg.py``, round 6;

- WAV  — stdlib ``wave`` encoder + a hand-rolled RIFF chunk parser
  (:func:`parse_wav`), frame stats from the actual PCM16 samples;
- BMP  — hand-rolled 24bpp encoder/decoder (bottom-up AND top-down
  rows, BGR order, 4-byte row padding — :func:`parse_bmp`);
- PPM  — P6 encoder/decoder with comment-tolerant headers
  (:func:`parse_ppm`).

Registry queries ``multimodal_wav_rms_real`` / ``image_bmp_patch_real``
/ ``image_ppm_decode_real`` verify the decoded statistics against
oracles that recompute them from the generating integer formulas —
independent of the byte-level codecs entirely.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_plugins_spark.operators.transform import map_rows

METADATA_TYPE = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("mime", T.StringType()),
    ]
)


def attach_payload(
    df: DataFrame, content_col: str, mime: str = "text/plain"
) -> DataFrame:
    """Wrap a column's UTF-8 bytes as a multimodal payload + metadata.
    (In a real ingest the payload would come from binaryFile / blob
    storage; the convention is identical.)"""
    payload = F.encode(F.col(content_col), "UTF-8")
    meta = F.struct(
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
        F.lit(mime).alias("mime"),
    )
    return df.withColumn("payload", payload).withColumn("meta", meta)


FEATURE_SCHEMA_SUFFIX = (
    "fake_width int, fake_height int, fake_channels int, fake_brightness double"
)


def decode_stub_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    fake: bool = False,
) -> DataFrame:
    """'Decode' each payload and emit fixed-shape features.

    With ``fake=True``: deterministic pseudo-features from the md5 of
    the payload bytes (so the Spark<->oracle comparison exercises the
    full binary pipeline). Otherwise raises NotImplementedError — the
    real implementation would call PIL/opencv here, batch-wise.
    """

    def decode(rid, payload):
        if not fake:
            raise NotImplementedError(
                "image/audio codecs not available in this environment; "
                "pass fake=True for deterministic pseudo-decode"
            )
        h = hashlib.md5(payload).hexdigest()
        yield (rid, int(h[0:2], 16), int(h[2:4], 16), 1 + int(h[4:5], 16) % 4,
               round(int(h[5:8], 16) / 4095.0, 6))

    schema = f"`{id_col}` long, {FEATURE_SCHEMA_SUFFIX}"
    return map_rows(df, [id_col, payload_col], schema, decode)


def decode_stub_features_oracle_sql(table: str, content_col: str, id_col: str) -> str:
    """DuckDB twin of the fake decode: md5 of the UTF-8 bytes drives the
    same pseudo-feature arithmetic (DuckDB md5(VARCHAR) hashes the
    string's UTF-8 bytes — the exact payload bytes Spark hashes)."""
    h = f"md5({content_col})"
    return f"""
        WITH _h AS (SELECT {id_col}, {h} AS h FROM {table})
        SELECT {id_col},
               ('0x' || substr(h, 1, 2))::INT AS fake_width,
               ('0x' || substr(h, 3, 2))::INT AS fake_height,
               (1 + ('0x' || substr(h, 5, 1))::INT % 4) AS fake_channels,
               round(('0x' || substr(h, 6, 3))::INT / 4095.0, 6) AS fake_brightness
        FROM _h
    """


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    n_frames: int = 4,
    frame_bytes: int = 16,
) -> DataFrame:
    """Frame-sampling plumbing: emit ``n_frames`` evenly-spaced
    byte-slices per payload (1 -> N rows, the fan-out shape a real
    video frame sampler has). Runs JVM-side — slicing bytes needs no
    Python."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_no")
    base = df.select(F.col(id_col), F.col(payload_col), idx)
    return base.select(
        id_col,
        "frame_no",
        F.expr(
            f"substr({payload_col}, 1 + cast(floor(frame_no * length({payload_col}) / {n_frames}) as int), {frame_bytes})"
        ).alias("frame_bytes"),
    )


# ---------------------------------------------------------------------
# REAL codecs for stdlib-decodable formats (round 4). The container has
# no image/audio libraries, but WAV, BMP and PPM need none: WAV is
# RIFF chunks + PCM samples, BMP is a fixed header + padded BGR rows,
# PPM is an ASCII header + raw RGB. These replace the ``fake=True``
# stub for those formats — the decoded features are computed from the
# actual pixel/sample bytes, and the registry oracles recompute the
# same statistics from the generating formulas independently.
#
# Encoders: WAV uses the stdlib ``wave`` writer (so the hand-rolled
# RIFF *parser* below is cross-validated against an independent
# implementation); BMP/PPM are hand-rolled to the public format specs
# (BITMAPINFOHEADER: bottom-up rows, BGR byte order, rows padded to 4
# bytes — the classic decode bugs the tests pin).
# ---------------------------------------------------------------------


def fanout_ids(df, id_col: str):
    """Project to the bare id column and round-robin it across the
    cluster's cores before a CPU-bound synthesize/encode map.

    Why: a pure-CPU codec stage downstream of a scan inherits the
    SCAN's parallelism — and a small parquet file is ONE split, so the
    whole encode ran on one core at bench SF. The exchange inserted
    here carries 8 bytes per row (the id), negligible at any scale,
    and buys parallelism by CORES instead of by input splits. This is
    the right shape for any synthesize-from-key workload; pipelines
    that DECODE payloads read from storage skip it — their payloads
    already live in many splits and shuffling them would move the
    actual bytes."""
    ids = df.select(id_col)
    return ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)


def synth_payloads(df: DataFrame, id_col: str, encode: Callable[[int], bytes]) -> DataFrame:
    """``(id_col long, payload binary)`` with ``payload = encode(id)``
    for every id, after :func:`fanout_ids` spreads the ids over the
    cores: the shape of every ``synth_*_payloads`` fixture."""
    return map_rows(
        fanout_ids(df, id_col), [id_col], f"`{id_col}` long, payload binary",
        lambda rid: [(rid, encode(rid))],
    )


def synth_pcm16_samples(seed: int, n: int) -> list[int]:
    """Deterministic, integer-only PCM16 test signal (no libm — sin()
    differs across engines in the last ulp; a Weyl-style integer
    sequence is bit-identical everywhere): s[i] in [-12000, 12000]."""
    return [
        ((seed * 2654435761 + i * 40503) % 24001) - 12000 for i in range(n)
    ]


def synth_pcm16_array(seed: int, n: int):
    """Vectorized twin of :func:`synth_pcm16_samples` (same values,
    numpy int array). The seed product folds through ``% 24001`` in
    arbitrary-precision Python first, so no int64 overflow for any
    id; the per-sample arithmetic then runs as one numpy expression
    instead of an n-iteration Python loop."""
    import numpy as np

    base = (seed * 2654435761) % 24001
    i = np.arange(n, dtype=np.int64)
    return ((base + i * 40503) % 24001) - 12000


def wav_bytes(samples, sample_rate: int = 8000) -> bytes:
    """PCM16 mono WAV via the stdlib ``wave`` writer. ``samples`` is a
    list of ints or a numpy integer array (written zero-copy as
    little-endian int16 frames — same bytes as the struct.pack path)."""
    import io
    import struct
    import wave

    import numpy as np

    if isinstance(samples, np.ndarray):
        frames = samples.astype("<i2").tobytes()
    else:
        frames = struct.pack(f"<{len(samples)}h", *samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def parse_wav(payload: bytes) -> tuple[int, int, int, list[int]]:
    """Hand-rolled RIFF/WAVE parser (the real decode path): walks the
    chunk list, reads the fmt chunk, unpacks PCM16 frames. Returns
    (n_channels, sample_rate, n_frames, samples). Raises ValueError on
    anything that is not little-endian PCM16."""
    import struct

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding ({audio_format=}, {bits=})")
    n = len(data) // (2 * n_channels)
    samples = list(
        struct.unpack_from(f"<{n * n_channels}h", data, 0)
    )
    return n_channels, sample_rate, n, samples


def _wav_pcm_array(payload: bytes):
    """Decode-path twin of :func:`parse_wav` returning the PCM16
    samples as a numpy int16 view (zero-copy off the data chunk) —
    the per-sample Python loop is the wrong shape for frame stats
    over millions of samples per Arrow batch."""
    import struct

    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _br, _al, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding ({audio_format=}, {bits=})")
    # parse_wav parity: an odd-length data chunk (truncated final
    # sample) drops the trailing byte instead of raising in frombuffer.
    arr = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
    n = len(arr) // n_channels
    return n_channels, sample_rate, n, arr[: n * n_channels]


def decode_wav_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL audio decode over the Arrow batch path: parse each WAV
    payload, compute frame stats from the actual samples. RMS is
    returned as the exact integer sum of squares plus the frame count
    (portable across engines; callers derive sqrt presentation-side)."""

    def decode(rid, payload):
        nch, sr, n, samples = _wav_pcm_array(payload)
        s64 = samples.astype("int64")
        yield rid, nch, sr, n, int((s64 * s64).sum()), int(abs(s64).max()) if len(s64) else 0

    schema = (
        f"`{id_col}` long, n_channels int, sample_rate int, n_frames long, sum_sq long, peak int"
    )
    return map_rows(df, [id_col, payload_col], schema, decode)


def bmp_bytes(width: int, height: int, pixel_fn) -> bytes:
    """24bpp bottom-up BMP (BITMAPINFOHEADER). ``pixel_fn(x, y) ->
    (r, g, b)`` with y=0 the TOP row; the encoder stores rows bottom-up
    in BGR with 4-byte row padding, per the public format."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    img_size = row_stride * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b & 255, g & 255, r & 255))  # BGR
        row += b"\x00" * (row_stride - len(row))
        rows += row
    return header + bytes(rows)


def bmp_bytes_array(arr) -> bytes:
    """Vectorized twin of :func:`bmp_bytes` (guide §4.2): ``arr`` is an
    (h, w, 3) uint8 RGB array, y=0 the TOP row. Byte-identical output —
    the same header, bottom-up BGR rows, 4-byte padding — built with
    numpy slicing instead of one Python ``pixel_fn`` call per pixel
    (the scalar encoder costs ~1k interpreter calls per 32x32 frame;
    this is one reshape + tobytes). The scalar form stays as the
    format-documenting reference; tests pin the two byte-equal."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    height, width = arr.shape[0], arr.shape[1]
    row_stride = (width * 3 + 3) & ~3
    img_size = row_stride * height
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    if row_stride == width * 3:
        body = bgr.tobytes()
    else:
        padded = np.zeros((height, row_stride), dtype=np.uint8)
        padded[:, : width * 3] = bgr.reshape(height, width * 3)
        body = padded.tobytes()
    return header + body


def parse_bmp_array(payload: bytes):
    """Vectorized twin of :func:`parse_bmp`: same header handling
    (pixel-array offset, top-down/bottom-up, BGR, row padding), but the
    pixel array comes out as one numpy (h, w, 3) uint8 RGB view built
    from a single ``frombuffer`` + reshape instead of h*w Python tuple
    constructions. Returns (width, height, array)."""
    import struct

    import numpy as np

    if payload[0:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height_raw = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    if bpp != 24 or hdr_size < 40:
        raise ValueError(f"unsupported BMP ({bpp=}, {hdr_size=})")
    top_down = height_raw < 0
    height = abs(height_raw)
    row_stride = (width * 3 + 3) & ~3
    data = np.frombuffer(
        payload, dtype=np.uint8, count=row_stride * height, offset=data_offset
    )
    rows = data.reshape(height, row_stride)[:, : width * 3]
    pix = rows.reshape(height, width, 3)
    if not top_down:
        pix = pix[::-1]
    return width, height, pix[:, :, ::-1]  # BGR -> RGB


def ppm_bytes_array(arr) -> bytes:
    """Vectorized twin of :func:`ppm_bytes`: (h, w, 3) uint8 RGB
    top-down array -> P6 bytes (identical output)."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    height, width = arr.shape[0], arr.shape[1]
    return f"P6\n{width} {height}\n255\n".encode() + arr.tobytes()


def parse_ppm_array(payload: bytes):
    """Vectorized twin of :func:`parse_ppm`: same tolerant header scan,
    numpy pixel array out. Returns (width, height, (h, w, 3) uint8 RGB
    top-down array)."""
    import numpy as np

    if payload[0:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pix = np.frombuffer(
        payload, dtype=np.uint8, count=width * height * 3, offset=pos
    )
    return width, height, pix.reshape(height, width, 3)


def parse_bmp(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Hand-rolled 24bpp BMP decode: honors the pixel-array offset,
    bottom-up (or top-down, negative height) row order, BGR byte order
    and 4-byte row padding. Returns (width, height, pixels) with
    pixels in row-major top-down (r, g, b) order."""
    import struct

    if payload[0:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height_raw = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    if bpp != 24 or hdr_size < 40:
        raise ValueError(f"unsupported BMP ({bpp=}, {hdr_size=})")
    top_down = height_raw < 0
    height = abs(height_raw)
    row_stride = (width * 3 + 3) & ~3
    pixels: list[tuple[int, int, int]] = []
    for y in range(height):
        src_row = y if top_down else height - 1 - y
        base = data_offset + src_row * row_stride
        for x in range(width):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            pixels.append((r, g, b))
    return width, height, pixels


def ppm_bytes(width: int, height: int, pixel_fn) -> bytes:
    """Binary PPM (P6): ASCII header, raw RGB top-down rows."""
    body = bytearray()
    for y in range(height):
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            body += bytes((r & 255, g & 255, b & 255))
    return f"P6\n{width} {height}\n255\n".encode() + bytes(body)


def parse_ppm(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """P6 PPM decode: whitespace/comment-tolerant header scan, then
    raw RGB triplets. Returns (width, height, pixels) top-down."""
    if payload[0:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pixels = [
        tuple(payload[pos + 3 * i : pos + 3 * i + 3])
        for i in range(width * height)
    ]
    return width, height, pixels


def decode_image_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL image decode (BMP or PPM, auto-detected by magic) over the
    Arrow batch path: per-image width/height and exact per-channel
    pixel sums from the decoded pixel array."""

    def decode(payload):
        if payload[:2] == b"BM":
            return parse_bmp_array(payload)[2]
        if payload[:2] == b"P6":
            return parse_ppm_array(payload)[2]
        raise ValueError("unknown image payload")

    return decode_rgb_stats(df, id_col, payload_col, decode)


def decode_rgb_stats(
    df: DataFrame, id_col: str, payload_col: str, decode: Callable[[bytes], np.ndarray]
) -> DataFrame:
    """``(id, width, height, sum_r, sum_g, sum_b)`` per payload: its
    size and exact per-channel pixel sums after ``decode`` turns it
    into an (h, w, 3) RGB array. The stats every lossless image codec
    checks against the one generator-formula oracle."""

    def stats(rid, payload):
        img = decode(payload)
        if img.ndim != 3:
            raise ValueError("RGB payload expected")
        hh, ww, _ = img.shape
        yield (rid, ww, hh, *map(int, img.reshape(-1, 3).sum(axis=0, dtype=np.int64)))

    schema = f"`{id_col}` long, width int, height int, sum_r long, sum_g long, sum_b long"
    return map_rows(df, [id_col, payload_col], schema, stats)


def formula_rgb(seed: int, width: int, height: int) -> np.ndarray:
    """The shared generator-formula image, (height, width, 3) uint8:
    r = 9s+13x+y, g = 5s+x+11y, b = s+3x+7y, mod 256. The BMP, PPM,
    PNG, GIF and TIFF fixtures all encode it, so one SQL oracle covers
    every lossless wire format."""
    x = np.arange(width, dtype=np.int64)[None, :]
    y = np.arange(height, dtype=np.int64)[:, None]
    r = (seed * 9 + 13 * x + y) % 256
    g = (seed * 5 + x + 11 * y) % 256
    b = (seed + 3 * x + 7 * y) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synth_wav_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 2048,
    sample_rate: int = 8000,
) -> DataFrame:
    """Per-row REAL WAV payload synthesis (ingest-side twin of the
    decode path): a deterministic integer PCM16 signal seeded by the id
    column, encoded by the stdlib ``wave`` writer — so the hand-rolled
    RIFF parser in :func:`decode_wav_features` is cross-validated
    against an independent encoder implementation."""
    return synth_payloads(
        df, id_col, lambda rid: wav_bytes(synth_pcm16_array(rid, n_samples), sample_rate)
    )


def synth_image_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 13,
    height: int = 12,
    fmt: str = "bmp",
) -> DataFrame:
    """Per-row REAL image payload synthesis: deterministic per-channel
    integer pixel formulas seeded by the id column, encoded as 24bpp
    BMP (bottom-up, BGR, padded rows) or P6 PPM. width=13 is chosen so
    BMP rows need padding — the classic decode bug surface."""
    enc = {"bmp": bmp_bytes_array, "ppm": ppm_bytes_array}[fmt]
    return synth_payloads(df, id_col, lambda rid: enc(formula_rgb(rid, width, height)))
