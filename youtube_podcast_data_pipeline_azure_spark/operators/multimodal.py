"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

North-star extension (BASELINE.json).  Two kinds of kernels:

* **Real**: raw (uncompressed) RGB images need no codec — ``payload``
  is ``width·height·3`` uint8 bytes and the MEDIA_ASSETS width/height
  metadata gives the geometry, so :func:`decode_raw_rgb` and the
  nearest-neighbor :func:`resize_images` are genuine numpy kernels
  (oracle-checked byte-for-byte via the ``media_thumbnails`` query).
* **Surrogate**: compressed formats (PNG/WAV/MP4) need codecs this
  container doesn't ship, so the embed/frame kernels are deterministic
  digest-based stand-ins, clearly marked — same signatures, same batch
  shapes, swap the body when PIL/ffmpeg are present.

Scale notes: binary payloads ride in Parquet as BYTE_ARRAY; Arrow moves
them to Python zero-ish-copy in batches.  ``mapInPandas`` (iterator of
batches) rather than a scalar UDF so a real decoder can amortize model/
codec setup per partition, and so ``spark.sql.execution.arrow
.maxRecordsPerBatch`` bounds peak memory when payloads are megabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "asset_id long, modality string, n_bytes long, sha256 string, "
    "feature array<float>"
)

THUMBNAIL_SCHEMA = "asset_id long, thumb_width int, thumb_height int, thumbnail binary"

FRAME_SCHEMA = "asset_id long, frame_index int, frame_ms long, frame binary"


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """STUB decode→embed kernel: a deterministic feature vector derived
    from the payload digest.  Replaces a real (image/audio) encoder —
    same signature, same batch shape, stable across runs/partitions."""
    d = hashlib.sha256(payload or b"").digest()
    return [round(b / 255.0, 6) for b in d[:dim]]


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Decode + feature-extract each asset via ``mapInPandas``.

    Input must carry (asset_id, modality, payload).  Batches stream
    through the Python worker; per-batch vectorized digesting stands in
    for a real encoder's batched forward pass.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(lambda p: len(p or b"")).astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda p: _fake_feature(p, dim)),
                }
            )

    return df.select("asset_id", "modality", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def decode_raw_rgb(payload: bytes | None, width, height):
    """Decode a RAW interleaved-RGB payload to an (h, w, 3) uint8 array.

    Raw arrays need no codec: the bytes ARE the pixels, geometry comes
    from the width/height metadata columns.  Returns None when payload
    or geometry is missing or the byte count doesn't match — the caller
    treats that as "compressed format, real codec required here".
    """
    import numpy as np

    if payload is None or width is None or height is None:
        return None
    w, h = int(width), int(height)
    if w <= 0 or h <= 0 or len(payload) != w * h * 3:
        return None
    return np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3)


def resize_images(df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Thumbnail raw-RGB images via nearest-neighbor sampling — a real
    numpy kernel (index-stride row/column selection), no codec needed.

    Input must carry (asset_id, modality, payload, width, height).
    Assets whose payload isn't a decodable raw array (compressed
    formats) yield a null thumbnail — the seam where a PIL/turbojpeg
    decode would slot in.  Output thumbnails are raw RGB again, so the
    operator composes with itself and with :func:`extract_features`.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                arr = decode_raw_rgb(p, w, h)
                if arr is None:
                    thumbs.append(None)
                    continue
                ys = (np.arange(height) * arr.shape[0]) // height
                xs = (np.arange(width) * arr.shape[1]) // width
                thumbs.append(arr[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "thumb_width": np.full(len(pdf), width, dtype="int32"),
                    "thumb_height": np.full(len(pdf), height, dtype="int32"),
                    "thumbnail": thumbs,
                }
            )

    return (
        df.where(F.col("modality") == "image")
        .select("asset_id", "payload", "width", "height")
        .mapInPandas(run, schema=THUMBNAIL_SCHEMA)
    )


AUDIO_STATS_SCHEMA = (
    "asset_id long, n_samples long, sum_sq long, peak long, duration_ms long"
)


def decode_pcm_s16le(payload: bytes | None):
    """Decode RAW signed-16-bit little-endian PCM to an int array —
    like raw RGB, uncompressed audio needs no codec: the bytes ARE the
    samples.  Returns None for undecodable payloads (odd byte count or
    missing) — the seam where a real WAV/MP3 decoder would slot in."""
    import numpy as np

    if payload is None or len(payload) % 2 != 0 or len(payload) == 0:
        return None
    return np.frombuffer(payload, dtype="<i2").astype(np.int64)


def audio_stats(df: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Real audio feature kernel over raw PCM: per asset emit
    (n_samples, sum of squared samples, peak absolute amplitude,
    duration).  All-integer outputs, so the kernel is bit-exact and
    oracle-checkable (``media_audio_stats``); loudness/RMS is
    ``sqrt(sum_sq / n_samples)`` downstream if a float is wanted.

    Vectorized numpy inside ``mapInPandas`` Arrow batches; undecodable
    payloads (compressed formats) yield null stats rather than failing
    the job.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_s, ssq, peak, dur = [], [], [], []
            for p in pdf["payload"]:
                x = decode_pcm_s16le(p)
                if x is None:
                    n_s.append(None)
                    ssq.append(None)
                    peak.append(None)
                    dur.append(None)
                    continue
                n_s.append(len(x))
                ssq.append(int(np.dot(x, x)))
                peak.append(int(np.abs(x).max()))
                dur.append(len(x) * 1000 // sample_rate)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_samples": pd.array(n_s, dtype="Int64"),
                    "sum_sq": pd.array(ssq, dtype="Int64"),
                    "peak": pd.array(peak, dtype="Int64"),
                    "duration_ms": pd.array(dur, dtype="Int64"),
                }
            )

    return (
        df.where(F.col("modality") == "audio")
        .select("asset_id", "payload")
        .mapInPandas(run, schema=AUDIO_STATS_SCHEMA)
    )


AHASH_SCHEMA = "asset_id long, ahash long, n_cells int"


def ahash_images(df: DataFrame, grid: int = 4) -> DataFrame:
    """Perceptual average-hash (aHash) over raw-RGB images — the
    image-dedup analog of SimHash: near-identical images land within a
    small Hamming distance of each other.

    Real numpy kernel (no codec): per image, integer luma ``r+g+b`` per
    pixel, summed over a ``grid×grid`` block partition (block bounds
    ``[i·h//grid, (i+1)·h//grid)`` — exact integer arithmetic for any
    geometry), then bit ``i`` (row-major) is set iff the block's luma
    EXCEEDS the image mean, compared cross-multiplied so unequal block
    sizes stay exact: ``block_sum·total_pixels > total_sum·block_pixels``
    (strict).  All-integer end-to-end, so the hash is bit-deterministic
    and — for digest-synthesized payloads — replayable byte-for-byte by
    a SQL oracle (``image_near_dup``).

    ``grid`` must satisfy ``grid² <= 63`` (hash packs into a long).
    Undecodable payloads (compressed formats — the codec seam) yield a
    null hash.  Input needs (asset_id, modality, payload, width,
    height); returns (asset_id, ahash, n_cells).
    """
    import numpy as np

    if grid * grid > 63:
        raise ValueError(f"grid² must fit a long hash, got grid={grid}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                arr = decode_raw_rgb(p, w, h)
                if arr is None:
                    hashes.append(None)
                    continue
                lum = arr.astype(np.int64).sum(axis=2)
                hh, ww = lum.shape
                total = int(lum.sum())
                n_pix = hh * ww
                # vectorized block partition (optimization r14): two
                # np.add.reduceat passes compute every [i·n//grid,
                # (i+1)·n//grid) block sum at once — exact int64 sums,
                # bit-identical to the per-block python loop this
                # replaces (grid² slice-sums per image; the loop was
                # ~60% of the kernel pass at sf0.1: 1.27 s -> 0.55 s
                # with the synth stage, tools/ab_ahash A/B)
                ys = (np.arange(grid) * hh) // grid
                xs = (np.arange(grid) * ww) // grid
                ye = (np.arange(1, grid + 1) * hh) // grid
                xe = (np.arange(1, grid + 1) * ww) // grid
                blk = np.add.reduceat(
                    np.add.reduceat(lum, ys, axis=0), xs, axis=1
                )
                n_blk = np.outer(ye - ys, xe - xs)
                # an image smaller than the grid has zero-width blocks;
                # reduceat returns the element AT a repeated start index
                # for those, where the block sum is empty (0)
                blk[n_blk == 0] = 0
                if n_pix <= 100_000_000:
                    bits = (blk * n_pix) > (total * n_blk)
                else:
                    # int64 cross-products overflow past ~1e8 pixels;
                    # fall back to python-int comparisons (the exact
                    # arbitrary-precision semantics of the old loop)
                    bits = np.array(
                        [
                            int(b) * n_pix > total * int(nb)
                            for b, nb in zip(blk.reshape(-1), n_blk.reshape(-1))
                        ]
                    ).reshape(blk.shape)
                sig = int(
                    np.dot(
                        bits.reshape(-1).astype(np.int64),
                        1 << np.arange(grid * grid, dtype=np.int64),
                    )
                )
                hashes.append(sig)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "ahash": pd.array(hashes, dtype="Int64"),
                    "n_cells": np.full(len(pdf), grid * grid, dtype="int32"),
                }
            )

    return (
        df.where(F.col("modality") == "image")
        .select("asset_id", "payload", "width", "height")
        .mapInPandas(run, schema=AHASH_SCHEMA)
    )


def image_near_dup_pairs(
    df: DataFrame, grid: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Image near-duplicate pairs at aHash Hamming <= ``max_hamming``.

    Composition: the :func:`ahash_images` kernel (binary decode stays
    in one ``mapInPandas`` pass; only the 8-byte hash leaves the scan)
    feeds the shared lossless pigeonhole block join
    (``operators/dedup.py:hamming_pairs``) — image bytes NEVER shuffle,
    candidate volume ∝ chunk collisions, and the output is exactly the
    true pair set at the threshold (certified by an independent
    brute-force oracle twin in the registered query).  Returns
    (id_a, id_b, hamming) with id_a < id_b.
    """
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import hamming_pairs

    sigs = ahash_images(df, grid=grid).where(F.col("ahash").isNotNull())
    return hamming_pairs(
        sigs,
        id_col="asset_id",
        sig_col="ahash",
        bits=grid * grid,
        max_hamming=max_hamming,
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample video frames every ``every_ms``.  Deterministic fake: emits
    one stub 'frame' (payload digest) per sampled timestamp based on the
    duration_ms metadata — exercising the 1-in / N-out explode shape a
    real ffmpeg kernel would have."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "frame_index": [],
                "frame_ms": [],
                "frame": [],
            }
            for _, row in pdf.iterrows():
                duration = int(row["duration_ms"] or 0)
                payload = row["payload"] or b""
                for i, ms in enumerate(range(0, max(duration, 1), every_ms)):
                    out["asset_id"].append(row["asset_id"])
                    out["frame_index"].append(i)
                    out["frame_ms"].append(ms)
                    out["frame"].append(
                        hashlib.sha256(payload + str(ms).encode()).digest()
                    )
            yield pd.DataFrame(out)

    return (
        df.where(F.col("modality") == "video")
        .select("asset_id", "payload", "duration_ms")
        .mapInPandas(run, schema=FRAME_SCHEMA)
    )


AUDIO_FP_SCHEMA = "asset_id long, afp long, n_windows int"


def audio_fingerprint(df: DataFrame, n_bits: int = 32) -> DataFrame:
    """Energy-delta audio fingerprint over raw PCM — the audio analog
    of :func:`ahash_images` (the sign-of-adjacent-band-energy-change
    idea behind Shazam/Chromaprint-class fingerprints, reduced to the
    time domain so it stays codec-free and integer-exact).

    The signal is framed into ``n_bits + 1`` windows with exact integer
    boundaries ``[w·n // (n_bits+1), (w+1)·n // (n_bits+1))``; window
    energy is the integer sum of absolute sample values; bit ``w`` is
    set iff window ``w+1``'s MEAN energy strictly exceeds window
    ``w``'s, compared cross-multiplied so unequal window sizes stay
    exact integers: ``e[w+1]·len[w] > e[w]·len[w+1]``.  (Comparing raw
    sums would bias every bit whose adjacent windows differ in length —
    when the track length isn't a multiple of ``n_bits+1``, sizes
    alternate by one and the biased bits collapse hash entropy, which
    quadratically inflates the downstream block join.  Measured: raw
    sums at 32 bits gave 83%-biased boundary bits and a 10.3× wall
    ratio on the 10× corpus; the normalized compare is unbiased.)
    Sign-of-delta is invariant under positive amplitude scaling (volume
    changes), the property that makes it a perceptual fingerprint and
    not a checksum.  All-integer, so SQL-oracle-replayable for
    digest-synthesized payloads.

    ``n_bits <= 63`` (packs into a long).  SIZE THE WIDTH TO THE
    CORPUS: the pigeonhole block join's candidate volume is
    ~``blocks·n²/2^(n_bits/blocks)``, so ``n_bits/blocks`` must grow
    with log₂(corpus) — 32 bits is comfortable to ~10⁴ tracks, use 48+
    beyond (the minhash_band_tuning sizing discipline applied to
    Hamming blocking).  Tracks shorter than ``n_bits + 1`` samples (or
    undecodable payloads — the codec seam) yield a null fingerprint.
    Input needs (asset_id, modality, payload); returns (asset_id, afp,
    n_windows).
    """
    import numpy as np

    if n_bits > 63:
        raise ValueError(f"n_bits must fit a long hash, got {n_bits}")
    n_win = n_bits + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for p in pdf["payload"]:
                x = decode_pcm_s16le(p)
                if x is None or len(x) < n_win:
                    fps.append(None)
                    continue
                ab = np.abs(x)
                n = len(ab)
                bounds = (np.arange(n_win + 1) * n) // n_win
                # vectorized window energies (optimization r14, the
                # ahash reduceat form): one np.add.reduceat replaces
                # n_win python slice-sums per track — exact int64
                ab64 = ab.astype(np.int64)
                e = np.add.reduceat(ab64, bounds[:-1])
                ln = np.diff(bounds)
                if n <= 200_000_000:
                    bits = e[1:] * ln[:-1] > e[:-1] * ln[1:]
                else:
                    # int64 cross-products overflow past ~2e8 samples;
                    # python-int fallback keeps the old loop's
                    # arbitrary-precision semantics
                    bits = np.array(
                        [
                            int(e[w + 1]) * int(ln[w])
                            > int(e[w]) * int(ln[w + 1])
                            for w in range(n_bits)
                        ]
                    )
                sig = int(
                    np.dot(
                        bits[:n_bits].astype(np.int64),
                        1 << np.arange(n_bits, dtype=np.int64),
                    )
                )
                fps.append(sig)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "afp": pd.array(fps, dtype="Int64"),
                    "n_windows": np.full(len(pdf), n_win, dtype="int32"),
                }
            )

    return (
        df.where(F.col("modality") == "audio")
        .select("asset_id", "payload")
        .mapInPandas(run, schema=AUDIO_FP_SCHEMA)
    )


def audio_near_dup_pairs(
    df: DataFrame, n_bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Audio near-duplicate pairs at fingerprint Hamming <=
    ``max_hamming`` — :func:`audio_fingerprint` feeding the shared
    lossless pigeonhole block join (``operators/dedup.py:
    hamming_pairs``).  PCM bytes never shuffle; candidates ∝ chunk
    collisions; output is exactly the true pair set (independent
    brute-force oracle twin in the registered query).  Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import hamming_pairs

    sigs = audio_fingerprint(df, n_bits=n_bits).where(
        F.col("afp").isNotNull()
    )
    return hamming_pairs(
        sigs,
        id_col="asset_id",
        sig_col="afp",
        bits=n_bits,
        max_hamming=max_hamming,
    )
