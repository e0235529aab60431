"""Perceptual image hashing (dHash) — multimodal near-dup detection.

The image-side twin of MinHash/SimHash text dedup: re-encoded, noise-
dusted, or metadata-tweaked copies of the same image carry different
byte hashes but the SAME perceptual hash, so corpus-level image dedup
groups by a tiny fingerprint instead of comparing pixels. This is the
difference-hash (dHash) family: downscale by integer average pooling,
then emit one bit per horizontally adjacent cell pair (brighter-to-
the-right = 1). Gradients survive resizing/noise; absolute levels
don't matter.

Exact semantics (all INTEGER arithmetic, so the DuckDB oracle can
replay the hash bit-for-bit from generating formulas):

- luma per pixel = (r + 2*g + b) // 4 (the cheap integer luminance);
- pooled[row][col] = sum of the block's lumas // block_area;
- bit(row, col) = pooled[row][col+1] > pooled[row][col], packed
  little-endian as bit k = row*(grid_w-1)+col; an 8x8 grid yields a
  56-bit hash — inside BIGINT.

Spark shape: decode + hash is an Arrow-batched narrow map over the
payload scan (``transform.map_rows``, on ``mapInArrow``;
embarrassingly parallel, zero shuffles); the radius-0 dedup verdict
is ONE hash-partitioned window over the 8-byte fingerprint — the same
one-shuffle shape as exact text dedup, at any corpus size.
Hamming-radius>0 matching is :func:`phash_neardup_pairs`: the SimHash
pigeonhole band join (d <= bands-1 guarantees a shared band), never an
O(n²) cross join.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_plugins_spark.operators.multimodal import (
    _wav_pcm_array, bmp_bytes_array, parse_bmp_array, parse_ppm_array,
    ppm_bytes_array, synth_payloads, wav_bytes,
)
from python_plugins_spark.operators.transform import map_rows
from python_plugins_spark.session import stage_checkpoint



def dhash_bits(
    width: int, height: int, pixels: list[tuple[int, int, int]], block: int = 4
) -> int:
    """dHash of a decoded RGB image (row-major top-down pixel list).
    Requires dimensions divisible by ``block``; an 8x8 pooled grid
    (e.g. 32x32 input, block 4) yields 56 bits."""
    if width % block or height % block:
        raise ValueError(
            f"dhash_bits: {width}x{height} not divisible by block {block}"
        )
    gh_, gw_ = height // block, width // block
    if gh_ * (gw_ - 1) > 63:
        # a >=64-position shift on int64 is undefined (numpy would
        # silently wrap) — refuse loudly, the module convention
        raise ValueError(
            f"dhash_bits: {gh_}x{gw_} grid needs {gh_ * (gw_ - 1)} bits; "
            "only 63 fit in the int64 hash — use a larger block"
        )
    arr = np.asarray(pixels, dtype=np.int64).reshape(height, width, 3)
    luma = (arr[:, :, 0] + 2 * arr[:, :, 1] + arr[:, :, 2]) // 4
    gh, gw = height // block, width // block
    pooled = (
        luma.reshape(gh, block, gw, block).sum(axis=(1, 3)) // (block * block)
    )
    bits = pooled[:, 1:] > pooled[:, :-1]  # (gh, gw-1)
    k = np.arange(gh * (gw - 1), dtype=np.int64).reshape(gh, gw - 1)
    return int((bits.astype(np.int64) << k).sum())


def image_dhash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fmt: str = "bmp",
    block: int = 4,
) -> DataFrame:
    """(id, phash) through the REAL decode chain: parse the BMP/PPM
    payload (operators/multimodal.py), luma-pool, difference-hash.
    Arrow-batched narrow map; zero shuffles."""
    # array parsers (round 12, guide §4.2): one frombuffer/reshape per
    # payload instead of w*h Python tuple builds; dhash_bits consumes
    # the (h, w, 3) array directly (np.asarray is a no-op on it)
    parse = {"bmp": parse_bmp_array, "ppm": parse_ppm_array}[fmt]
    return map_rows(
        df, [id_col, payload_col], f"`{id_col}` long, phash long",
        lambda rid, payload: [(rid, dhash_bits(*parse(payload), block=block))],
    )


def _block_channel_array(base_r: int, base_g: int, base_b: int, grid: int, block: int):
    """Vectorized per-block channel formulas shared by the image/video
    fixtures (guide §4.2): returns the (grid*block, grid*block, 3)
    int16 RGB array the scalar ``px(x, y)`` closures produce, computed
    as three (grid, grid) numpy expressions expanded by ``np.repeat``
    instead of one Python call per pixel. ``base_*`` fold the per-row
    seed terms (group/frame); the bx/by coefficients and moduli are
    the fixture constants the oracles replay."""
    bx = np.arange(grid, dtype=np.int64)[None, :]
    by = np.arange(grid, dtype=np.int64)[:, None]
    r = (base_r + bx * 7 + by * 13) % 97
    g = (base_g + bx * 11 + by * 3) % 89
    b = (base_b + bx * 5 + by * 19) % 83
    img = np.stack([r, g, b], axis=-1).astype(np.int16)
    return np.repeat(np.repeat(img, block, axis=0), block, axis=1)


def synth_block_image_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 17,
    grid: int = 8,
    block: int = 4,
    noise_mod: int = 3,
    fmt: str = "bmp",
    variant_blocks: bool = False,
) -> DataFrame:
    """Near-duplicate image fixture, REAL encoder: each row renders a
    (grid*block)^2 image whose pixels are UNIFORM per block with
    channel formulas seeded by group = id % groups, then pixel (0,0)
    gains per-channel noise id % noise_mod — a sub-LSB-of-the-pool
    perturbation that changes the payload BYTES (and any exact hash)
    but provably not the pooled luma (the noise n adds exactly n to
    one luma via (r+2g+b+4n)//4, and n < block² vanishes under the
    pooled integer division). Rows sharing a group are therefore
    perceptual duplicates with distinct payloads.

    With ``variant_blocks`` the variant v = id % noise_mod instead
    WHITENS the rightmost-column blocks of rows 0..v-1 (luma 255 >
    any base luma <= 88): each whitened block participates in exactly
    ONE gradient comparison (row*7+6 — there is no column to its
    right), so the variant's dHash differs from its group's base hash
    by AT MOST v bits — the Hamming-radius near-dup fixture."""
    enc = {"bmp": bmp_bytes_array, "ppm": ppm_bytes_array}[fmt]

    # Vectorized rendering (round 12, guide §4.2): the scalar form
    # called a Python ``px(x, y)`` closure once per pixel — ~1k
    # interpreter calls per image, the dominant cost of the whole
    # fixture pipeline. The numpy form computes the identical bytes
    # (same formulas, same variant/noise order of application —
    # whitening checks the block BEFORE the (0,0) noise, and (0,0)
    # is never in the whitened column for grid > 1).
    def encode(s):
        g = s % groups
        n = s % noise_mod
        img = _block_channel_array(g * 31, g * 17, g * 23, grid, block)
        if variant_blocks and n:
            img[0 : n * block, (grid - 1) * block :, :] = 255
        img[0, 0, :] += n
        return enc(img.astype(np.uint8))

    return synth_payloads(df, id_col, encode)


# ---------------------------------------------------------------- audio

def audio_energy_bits(pcm, frames: int = 16) -> int:
    """Energy-envelope fingerprint of a PCM16 signal — the audio twin
    of dHash (the Haitsma-Kalker sign-of-band-energy-delta family,
    reduced to the time axis): split into ``frames`` equal frames,
    per-frame energy = sum of squared samples (exact int64), one bit
    per adjacent frame pair (louder-next = 1). Phase/polarity edits
    change the bytes but never x², so sign-masked variants collapse
    to one fingerprint.

    Invariance boundary (property-tested,
    test_audio_fingerprint_invariances): EXACT under any sign mask
    and any positive gain (energies scale by k², preserving every
    comparison); ROBUST to DC offset while 2|c|·|S_i − S_j| stays
    below the adjacent-frame energy gap (S_i = frame sample sum) —
    small offsets never flip a bit, an offset comparable to the
    signal can. NOT invariant under per-frame gain edits (they
    reorder the envelope — by design: that IS a loudness edit),
    clipping (squares saturate non-uniformly), or time-stretch
    (frame boundaries move). Those edits change the fingerprint and
    are treated as different audio."""
    arr = np.asarray(pcm, dtype=np.int64)
    if len(arr) % frames:
        raise ValueError(
            f"audio_energy_bits: {len(arr)} samples not divisible "
            f"into {frames} frames"
        )
    e = (arr * arr).reshape(frames, -1).sum(axis=1)
    bits = e[1:] > e[:-1]
    k = np.arange(frames - 1, dtype=np.int64)
    return int((bits.astype(np.int64) << k).sum())


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frames: int = 16,
) -> DataFrame:
    """(id, afp) through the REAL decode chain: hand-rolled RIFF walk
    (operators/multimodal.py), exact integer frame energies,
    delta-sign bits. Arrow-batched narrow map; zero shuffles."""

    def fp(rid, payload):
        n_ch, _rate, _n, pcm = _wav_pcm_array(payload)
        if n_ch != 1:
            raise ValueError(f"audio_fingerprint: expected mono, got {n_ch} channels")
        yield rid, audio_energy_bits(pcm, frames=frames)

    return map_rows(df, [id_col, payload_col], f"`{id_col}` long, afp long", fp)


def synth_fingerprint_wav_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 13,
    frames: int = 16,
    frame_len: int = 128,
    variant_mod: int = 3,
) -> DataFrame:
    """Near-duplicate audio fixture, REAL writer: each row renders a
    PCM16 signal whose per-frame amplitude a = 100 + (g*11 + f*23) %
    173 is seeded by group = id % groups (chosen so all 13 default
    groups map to DISTINCT 15-bit envelopes) over a fixed
    {-2,-1,0,-1}*a intra-frame pattern, then variant v = id %
    variant_mod applies a deterministic SIGN MASK (flip where
    i % (v+1) == 0, v > 0) — the bytes (and any exact hash) change,
    the squared samples don't, so rows sharing a group are perceptual
    duplicates with distinct payloads."""
    n = frames * frame_len
    base_pattern = np.array([2, 1, 0, 1] * (frame_len // 4), dtype=np.int64)

    def encode(s):
        g, v = s % groups, s % variant_mod
        amps = np.array(
            [100 + (g * 11 + f * 23) % 173 for f in range(frames)],
            dtype=np.int64,
        )
        pcm = (amps[:, None] * base_pattern[None, :]).reshape(n)
        pcm = -pcm  # pattern is magnitudes; make it bipolar
        if v:
            idx = np.arange(n)
            mask = np.where(idx % (v + 1) == 0, -1, 1)
            pcm = pcm * mask
        return wav_bytes(pcm)

    return synth_payloads(df, id_col, encode)


# ---------------------------------------------------------------- video

def parse_bmp_stream(payload: bytes) -> list[bytes]:
    """Walk a raw BMP frame sequence (back-to-back BMP files — the
    frame layout of uncompressed AVI/MJPEG-class containers, without
    the RIFF index): each frame's boundary comes from the BMP header's
    OWN declared file size (bytes 2-5), never from a fixed-stride
    assumption. Truncated or non-BMP bytes refuse with the frame
    index named."""
    import struct

    frames: list[bytes] = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"BM":
            raise ValueError(
                f"parse_bmp_stream: frame {len(frames)} at offset {pos} "
                "is not a BMP header"
            )
        if pos + 6 > len(payload):
            raise ValueError(
                f"parse_bmp_stream: frame {len(frames)} header truncated"
            )
        (size,) = struct.unpack_from("<I", payload, pos + 2)
        if size < 14 or pos + size > len(payload):
            raise ValueError(
                f"parse_bmp_stream: frame {len(frames)} declares {size} "
                f"bytes but only {len(payload) - pos} remain"
            )
        frames.append(payload[pos : pos + size])
        pos += size
    return frames


def video_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    k: int = 4,
    block: int = 8,
) -> DataFrame:
    """(id, n_frames, vfp) through the REAL chain: walk the BMP frame
    stream, sample ``k`` evenly spaced frames (frame (j*F)//k — the
    sample_frames convention), dHash each on the coarse grid, and md5
    the ':'-joined hash decimals into one video fingerprint. Sampling
    makes the fingerprint robust to edits in UNSAMPLED frames — the
    property the fixture exercises. Arrow-batched narrow map; zero
    shuffles."""

    def fp(rid, payload):
        frames = parse_bmp_stream(payload)
        n = len(frames)
        picks = sorted({(j * n) // k for j in range(k)})
        hashes = [dhash_bits(*parse_bmp_array(frames[j]), block=block) for j in picks]
        yield rid, n, hashlib.md5(":".join(str(h) for h in hashes).encode()).hexdigest()

    return map_rows(df, [id_col, payload_col], f"`{id_col}` long, n_frames int, vfp string", fp)


def synth_video_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 11,
    frames: int = 6,
    grid: int = 4,
    block: int = 8,
    variant_mod: int = 3,
) -> DataFrame:
    """Near-duplicate VIDEO fixture, REAL encoder: each row renders a
    ``frames``-frame BMP stream whose sampled frames (0,1,3,4 for
    F=6, k=4) carry block-uniform content seeded by (group, frame) —
    the 11 default groups map to DISTINCT fingerprints — while the
    UNSAMPLED frames (2, 5) are seeded by the variant, and every
    frame's (0,0) pixel gains variant noise (sub-pool, vanishes under
    //block²). Rows sharing a group therefore differ in bytes AND in
    whole unsampled frames, yet share the sampled-frame
    fingerprint."""
    picks = {(j * frames) // 4 for j in range(4)}

    # Vectorized rendering (round 12, guide §4.2) — the scalar form
    # paid frames * side^2 Python ``px`` calls per row; the numpy form
    # produces the identical BMP stream byte-for-byte (same per-block
    # formulas via _block_channel_array, same (0,0) variant noise).
    def encode(s):
        g, v = s % groups, s % variant_mod
        chunks = []
        for j in range(frames):
            seed = g if j in picks else (g * 7 + v * 13 + 5)
            fj = j if j in picks else j + v
            img = _block_channel_array(
                seed * 31 + fj * 41,
                seed * 17 + fj * 29,
                seed * 23 + fj * 37,
                grid,
                block,
            )
            img[0, 0, :] += v
            chunks.append(bmp_bytes_array(img.astype(np.uint8)))
        return b"".join(chunks)

    return synth_payloads(df, id_col, encode)


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bands: int = 4,
    bits: int = 56,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Hamming-radius perceptual matching WITHOUT the O(n²) cross
    join — the SimHash band trick applied to the dHash: split the
    ``bits``-bit fingerprint into ``bands`` equal bands; two hashes
    within Hamming distance d <= bands-1 MUST agree on at least one
    band (pigeonhole), so candidates come from per-(band_id,
    band_value) buckets and only candidates pay the exact
    bit_count(xor) verification. Returns (id_a, id_b, hamming) with
    id_a < id_b, hamming <= max_hamming. ``max_hamming`` must stay
    below ``bands`` or recall is no longer guaranteed — refused
    loudly.

    Shape: the banded (id, hash, band_id, band_val) projection is
    materialized ONCE (localCheckpoint — the decode+hash subtree
    upstream is a Python ``mapInArrow`` pass; a plain self-join would
    run it per join side), then candidates come from a whole-stage-
    codegen self-equi-join on the band key (measured ~2x the
    interpreted array-HOF in-bucket expansion this replaced).
    In-bucket pair counts are quadratic in duplicate-cluster size —
    the standard LSH shape — and real image corpora are full of
    degenerate clusters (blank thumbnails, tracking pixels,
    solid-color placeholders) whose dHash is IDENTICAL, so at scale
    one such cluster makes a single bucket go quadratic: cap it with
    ``max_bucket`` — over-cap buckets (a SMALL set by definition:
    only the pathological ones) are collected into a broadcast
    anti-join that sheds their rows BEFORE the pair join, exactly
    like its text twin ``minhash_lsh_pairs(max_bucket=)``. The cap
    provably preserves every pair outside the shed buckets —
    pytest-pinned (test_phash_skew_cap_bounds_degenerate_cluster,
    the twin of test_minhash_skew_cap_bounds_boilerplate). Production
    recipe: run radius-0 dedup (the ``image_dhash_dedup`` window)
    FIRST so byte-distinct perceptual-identical copies never reach the
    matcher, then cap what remains."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} "
            f"bands for pigeonhole recall, got {bands}"
        )
    if bits % bands:
        raise ValueError(f"{bits} bits not divisible into {bands} bands")
    width = bits // bands
    mask = (1 << width) - 1
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), width * k)
                    .bitwiseAND(mask)
                    .cast("long")
                    for k in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    ).transform(stage_checkpoint)
    if max_bucket is not None:
        big = (
            banded.groupBy("band_id", "band_val")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band_id", "band_val")
        )
        banded = banded.join(
            F.broadcast(big), on=["band_id", "band_val"], how="left_anti"
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._h").alias("_ha"),
            F.col("b._h").alias("_hb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(_ha ^ _hb)")
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def phash_index_build(
    hashed: DataFrame, id_col: str, index_path: str
) -> None:
    """Persist the (id, phash) fingerprint index of an admitted image
    corpus as a Delta table — the image twin of minhash_index_build.
    8-byte fingerprints: a billion admitted images index in ~16 GB,
    trivially joinable at ingest time."""
    from python_plugins_spark.sources.delta_py import write_delta

    write_delta(
        hashed.select(id_col, "phash"), f"{index_path}/phash",
        mode="overwrite",
    )



def _intra_batch_exact_dedup(
    hashed_new: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Radius-0 intra-batch pass shared by BOTH ingest variants:
    min-id survivor per identical fingerprint within the batch;
    losers flag as (id, phash, dup_of, hamming=0) — ONE definition,
    so the family's union-compatible duplicates schema cannot
    silently diverge between the variants."""
    tagged = hashed_new.select(
        id_col,
        "phash",
        F.min(id_col)
        .over(Window.partitionBy("phash"))
        .alias("_batch_min"),
    )
    intra_dups = tagged.filter(F.col(id_col) != F.col("_batch_min")).select(
        id_col,
        "phash",
        F.col("_batch_min").alias("dup_of"),
        F.lit(0).cast("int").alias("hamming"),
    )
    survivors = tagged.filter(
        F.col(id_col) == F.col("_batch_min")
    ).select(id_col, "phash")
    return survivors, intra_dups


def phash_index_ingest(
    hashed_new: DataFrame,
    id_col: str,
    index_path: str,
    append: bool = True,
    dedup_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Check a new batch's fingerprints against the persisted index;
    returns ``(admitted, duplicates)`` — duplicates is (id, phash,
    dup_of, hamming) with dup_of the smallest indexed id sharing the
    fingerprint and hamming always 0 (radius-0 perceptual identity;
    the Hamming-radius variant is :func:`phash_index_radius_ingest`,
    whose duplicates frame is UNION-COMPATIBLE with this one — a
    caller can feed both ingest paths into one audit sink). Survivors
    append to the index atomically. Per-batch cost is one equi-join
    on the 8-byte fingerprint — independent of corpus size beyond the
    index scan, the continuous-ingestion dedup shape.

    ``dedup_batch=True`` first removes INTRA-batch duplicates (min-id
    survivor per fingerprint WITHIN the batch; losers flag as dups of
    that survivor), so a batch containing its own copies admits
    exactly one; otherwise the batch is ASSUMED internally deduped —
    two byte-distinct copies sharing a fingerprint in the same batch
    would both be admitted and both pollute the index (same contract
    as ``minhash_index_ingest``)."""
    from python_plugins_spark.sources.delta_py import read_delta, write_delta

    spark = hashed_new.sparkSession
    intra_dups = None
    if dedup_batch:
        hashed_new, intra_dups = _intra_batch_exact_dedup(hashed_new, id_col)
    idx = read_delta(spark, f"{index_path}/phash").select(
        F.col(id_col).alias("_idx_id"), F.col("phash").alias("_idx_hash")
    )
    matched = (
        hashed_new.join(idx, hashed_new["phash"] == idx["_idx_hash"], "left")
        .groupBy(id_col, "phash")
        .agg(F.min("_idx_id").alias("dup_of"))
    )
    if append:
        # materialize the JOIN RESULT once; admitted and dups are
        # narrow filters over it (round 12, guide §5 — checkpointing
        # each branch separately recomputed the index join per branch)
        matched = matched.transform(stage_checkpoint)
    dups = matched.filter(F.col("dup_of").isNotNull()).withColumn(
        "hamming", F.lit(0).cast("int")
    )
    if intra_dups is not None:
        dups = dups.unionByName(intra_dups)
    admitted = matched.filter(F.col("dup_of").isNull()).select(id_col, "phash")
    if append:
        write_delta(admitted, f"{index_path}/phash", mode="append")
    return admitted, dups


def _phash_band_exploded(
    df: DataFrame, hash_col: str, bands: int, bits: int
):
    """(original columns, band_id, band_val) — one row per band of
    each fingerprint, the shared banding of phash_neardup_pairs and
    the radius ingest."""
    width = bits // bands
    mask = (1 << width) - 1
    return df.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), width * k)
                    .bitwiseAND(mask)
                    .cast("long")
                    for k in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )


def phash_index_radius_ingest(
    hashed_new: DataFrame,
    id_col: str,
    index_path: str,
    bands: int = 4,
    bits: int = 56,
    max_hamming: int = 3,
    append: bool = True,
    dedup_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Hamming-RADIUS ingest — the variant :func:`phash_index_ingest`'s
    docstring names: a re-noised or border-edited copy whose dHash
    differs from an indexed fingerprint by a few bits slips through
    the radius-0 equi-join, so this one bands the persisted index the
    way :func:`phash_neardup_pairs` bands a frame (pigeonhole: within
    distance d <= bands-1 the copy MUST share a band with its
    original) and verifies candidates with exact bit_count(xor).
    Returns ``(admitted, duplicates)``; duplicates is (id, phash,
    dup_of, hamming) with dup_of the smallest indexed id within
    ``max_hamming``. Survivors append to the index atomically.

    Scale shape: the BATCH's band keys are broadcast, so the band
    equi-join is map-side over the index scan — no index shuffle, no
    single hot task even if one band value is common (each index
    partition streams against the broadcast table; work distributes
    with the index partitioning). Per-batch cost: one index scan
    (``bands``x exploded) + a batch-sized aggregate. The index is
    also SELF-LIMITING against degenerate buckets: every fingerprint
    admitted through this ingest is > ``max_hamming`` from all
    earlier ones, so identical-fingerprint clusters (the
    phash_neardup_pairs ``max_bucket`` pathology) cannot accumulate
    in the index itself. ``dedup_batch=True`` runs the radius-0
    intra-batch pass its sibling offers (min-id survivor per
    IDENTICAL fingerprint within the batch; losers flag with
    hamming=0) — the duplicates frame is union-compatible across the
    whole ingest family. Within-batch near-pairs at radius>0 both
    admit either way — documented, same contract as
    minhash_index_ingest (a full intra-batch radius pass is
    phash_neardup_pairs on the batch, a caller-side choice)."""
    from python_plugins_spark.sources.delta_py import read_delta, write_delta

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} "
            f"bands for pigeonhole recall, got {bands}"
        )
    if bits % bands:
        raise ValueError(f"{bits} bits not divisible into {bands} bands")
    spark = hashed_new.sparkSession
    intra_dups = None
    if dedup_batch:
        hashed_new, intra_dups = _intra_batch_exact_dedup(hashed_new, id_col)
    idx = read_delta(spark, f"{index_path}/phash").select(
        F.col(id_col).alias("_idx_id"), F.col("phash").alias("_idx_hash")
    )
    idx_banded = _phash_band_exploded(idx, "_idx_hash", bands, bits)
    new_banded = _phash_band_exploded(
        hashed_new.select(id_col, "phash"), "phash", bands, bits
    )
    hits = (
        idx_banded.join(
            F.broadcast(new_banded), on=["band_id", "band_val"]
        )
        .filter(F.expr("bit_count(_idx_hash ^ phash)") <= max_hamming)
        .groupBy(id_col, "phash")
        .agg(
            F.min("_idx_id").alias("dup_of"),
            F.min_by(
                F.expr("cast(bit_count(_idx_hash ^ phash) as int)"), "_idx_id"
            ).alias("hamming"),
        )
    )
    matched = hashed_new.select(id_col, "phash").join(
        hits, on=[id_col, "phash"], how="left"
    )
    if append:
        # one materialization of the banded-join verdict; both ports
        # are narrow filters over it (round 12, guide §5)
        matched = matched.transform(stage_checkpoint)
    dups = matched.filter(F.col("dup_of").isNotNull())
    if intra_dups is not None:
        dups = dups.unionByName(intra_dups)
    admitted = matched.filter(F.col("dup_of").isNull()).select(id_col, "phash")
    if append:
        write_delta(admitted, f"{index_path}/phash", mode="append")
    return admitted, dups


# ---------------------------------------------------------- spectral

def audio_spectral_bits(
    pcm, frames: int = 9, frame_len: int = 256, bands: int = 8
) -> int:
    """FREQUENCY-domain audio fingerprint — the actual Haitsma-Kalker
    (2002) bit formula, not the time-envelope reduction of
    :func:`audio_energy_bits`: per frame, an FFT splits the spectrum
    into ``bands`` equal bins-per-band groups (DC excluded); band
    energies E[f][b] = sum |X_k|^2; one bit per (frame, band-pair)
    from the sign of the TIME-AND-FREQUENCY double difference

        bit(f, b) = (E[f][b] - E[f][b+1]) - (E[f-1][b] - E[f-1][b+1]) > 0

    giving (frames-1) x (bands-1) bits (9 x 8 defaults -> 56, inside
    BIGINT). Phase edits change every byte but no |X_k|, so
    phase-shifted re-masters collapse to one fingerprint; unlike the
    envelope bits, a BAND-swap edit with equal total energy flips
    these (pytest-pinned — that is the frequency axis the envelope
    cannot see). Float caveat, stated: energies are float64 FFT sums;
    the fixture family keeps every double difference >= 1.6e3
    amplitude-squared units while FFT noise is orders smaller, so the
    bits are exact (FFT-vs-analytic equality pytest-pinned across
    the whole fixture family)."""
    arr = np.asarray(pcm, dtype=np.float64)
    if len(arr) != frames * frame_len:
        raise ValueError(
            f"audio_spectral_bits: {len(arr)} samples != "
            f"{frames}x{frame_len}"
        )
    # rfft yields bins 0..frame_len/2; DC excluded, Nyquist included:
    # frame_len/2 usable bins (256 -> 128 = 8 x 16)
    nbins = frame_len // 2
    if nbins % bands:
        raise ValueError(
            f"audio_spectral_bits: {nbins} non-DC bins not divisible "
            f"into {bands} bands"
        )
    per = nbins // bands
    x = arr.reshape(frames, frame_len)
    spec = np.abs(np.fft.rfft(x, axis=1)) ** 2
    e = np.stack(
        [spec[:, 1 + per * b: 1 + per * (b + 1)].sum(axis=1) for b in range(bands)],
        axis=1,
    )
    bits = 0
    kk = 0
    for f in range(1, frames):
        for b in range(bands - 1):
            d = (e[f][b] - e[f][b + 1]) - (e[f - 1][b] - e[f - 1][b + 1])
            if d > 0:
                bits |= 1 << kk
            kk += 1
    return bits


def audio_spectral_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frames: int = 9,
    frame_len: int = 256,
    bands: int = 8,
) -> DataFrame:
    """(id, sfp) through the REAL decode chain: RIFF walk, FFT band
    energies, Haitsma-Kalker double-difference bits. Arrow-batched
    narrow map; zero shuffles."""

    def fp(rid, payload):
        n_ch, _rate, _n, pcm = _wav_pcm_array(payload)
        if n_ch != 1:
            raise ValueError(f"audio_spectral_fingerprint: expected mono, got {n_ch} channels")
        yield rid, audio_spectral_bits(pcm, frames=frames, frame_len=frame_len, bands=bands)

    return map_rows(df, [id_col, payload_col], f"`{id_col}` long, sfp long", fp)


# fixture constants shared with the oracle replay (SQL is generated
# from these same numbers)
SPECTRAL_M1, SPECTRAL_M2, SPECTRAL_M3 = 7, 5, 11
SPECTRAL_MOD, SPECTRAL_MULT = 83, 3


def spectral_amp(g: int, f: int, b: int) -> int:
    """Per-(group, frame, band) sine amplitude of the fixture —
    chosen so all 11 default groups map to DISTINCT fingerprints and
    every Haitsma-Kalker double difference stays >= 1638 amp^2 units
    (found by search; FFT noise is orders smaller)."""
    return 100 + (
        (g * SPECTRAL_M1 + f * SPECTRAL_M2 + b * SPECTRAL_M3) % SPECTRAL_MOD
    ) * SPECTRAL_MULT


def synth_spectral_wav_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    groups: int = 11,
    frames: int = 9,
    frame_len: int = 256,
    bands: int = 8,
    variant_mod: int = 3,
) -> DataFrame:
    """Near-duplicate SPECTRAL audio fixture, REAL writer: each row
    renders a PCM16 signal whose frame f carries one sine per band at
    that band's EXACT center bin (k = 9 + 16b for the defaults — an
    exact-bin DFT has zero spectral leakage) with amplitude
    spectral_amp(group, f, b), then variant v = id % variant_mod
    applies a GLOBAL PHASE SHIFT of v*pi/2 — every byte changes (sin
    -> cos for v=1), no |X_k| does, so rows sharing a group are
    perceptual duplicates with distinct payloads."""
    per = (frame_len // 2) // bands
    t = np.arange(frame_len)

    def encode(s):
        g, v = s % groups, s % variant_mod
        phase = v * np.pi / 2
        chunks = []
        for f in range(frames):
            sig = np.zeros(frame_len)
            for b in range(bands):
                k = 1 + per * b + per // 2
                sig += spectral_amp(g, f, b) * np.sin(
                    2 * np.pi * k * t / frame_len + phase
                )
            chunks.append(np.round(sig).astype(np.int64))
        return wav_bytes(np.concatenate(chunks))

    return synth_payloads(df, id_col, encode)
