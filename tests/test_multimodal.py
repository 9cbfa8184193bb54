"""Multimodal columns through mapInPandas.  Raw-RGB decode/resize are
real numpy kernels (no codec needed); compressed-format embed/frame
kernels are deterministic digest surrogates — tested here are both the
real kernels and the Spark-side contract: schemas, batching,
1-in/N-out shapes."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from youtube_podcast_data_pipeline_azure_spark import schemas
from youtube_podcast_data_pipeline_azure_spark.operators import multimodal


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG fake", 640, 480, None, "2026-01-01"),
        (2, "audio", "audio/wav", b"RIFF fake", None, None, 5_000, "2026-01-01"),
        (3, "video", "video/mp4", b"\x00mp4 fake", 1280, 720, 3_500, "2026-01-01"),
        (4, "image", "image/png", None, 1, 1, None, "2026-01-02"),
    ]
    return spark.createDataFrame(rows, schemas.MEDIA_ASSETS)


def test_feature_extraction_deterministic(assets):
    out1 = {r["asset_id"]: r for r in multimodal.extract_features(assets).collect()}
    out2 = {r["asset_id"]: r for r in multimodal.extract_features(assets).collect()}
    assert set(out1) == {1, 2, 3, 4}
    for k in out1:
        assert out1[k]["sha256"] == out2[k]["sha256"]
        assert out1[k]["feature"] == out2[k]["feature"]
        assert len(out1[k]["feature"]) == 8
    assert out1[1]["n_bytes"] == 9
    assert out1[4]["n_bytes"] == 0  # null payload handled


def test_frame_sampling_explodes_by_duration(assets):
    frames = multimodal.sample_frames(assets, every_ms=1000).collect()
    # only asset 3 is video, 3500ms -> frames at 0,1000,2000,3000
    assert {r["asset_id"] for r in frames} == {3}
    assert sorted(r["frame_ms"] for r in frames) == [0, 1000, 2000, 3000]
    assert all(len(r["frame"]) == 32 for r in frames)  # sha256 stub payload


def test_resize_raw_rgb_nearest_neighbor_exact(spark):
    """4×4 raw RGB → 2×2 must select exactly pixels (0,0),(0,2),(2,0),
    (2,2) — nearest-neighbor index math pinned byte-for-byte."""
    import numpy as np

    src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    rows = [(1, "image", "image/raw-rgb", src.tobytes(), 4, 4, None, "2026-01-01")]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = multimodal.resize_images(assets, width=2, height=2).collect()[0]
    assert (out.thumb_width, out.thumb_height) == (2, 2)
    got = np.frombuffer(out.thumbnail, dtype=np.uint8).reshape(2, 2, 3)
    expected = src[np.ix_([0, 2], [0, 2])]
    assert (got == expected).all()
    # decoded form round-trips through the same decoder
    dec = multimodal.decode_raw_rgb(out.thumbnail, 2, 2)
    assert (dec == expected).all()


def test_resize_skips_undecodable_payloads(assets):
    """Compressed/garbage payloads (byte count != w·h·3) yield null
    thumbnails instead of failing the job — the codec seam."""
    out = {r.asset_id: r for r in multimodal.resize_images(assets).collect()}
    # assets 1 and 4 are images; neither payload is a valid raw array
    assert set(out) == {1, 4}
    assert out[1].thumbnail is None and out[4].thumbnail is None


def test_audio_stats_pcm_kernel_exact(spark):
    """Known s16le samples → exact integer stats."""
    import numpy as np

    samples = np.array([0, 1000, -32768, 32767, -1, 5], dtype="<i2")
    rows = [
        (7, "audio", "audio/pcm-s16le", samples.tobytes(), None, None, None,
         "2026-01-01"),
        (8, "audio", "audio/mpeg", b"\x00\x01\x02", None, None, None,
         "2026-01-01"),  # odd byte count -> undecodable (compressed seam)
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = {r.asset_id: r for r in multimodal.audio_stats(
        assets, sample_rate=6000).collect()}
    good = out[7]
    assert good.n_samples == 6
    assert good.sum_sq == sum(int(s) ** 2 for s in samples)
    assert good.peak == 32768
    assert good.duration_ms == 1  # 6 samples at 6 kHz = 1 ms
    bad = out[8]
    assert bad.n_samples is None and bad.sum_sq is None


def test_audio_stats_filters_to_audio_modality(assets):
    out = multimodal.audio_stats(assets).collect()
    ids = {r.asset_id for r in out}
    # fixture assets: only asset 2 is audio
    assert ids == {2}


def test_ahash_kernel_exact(spark):
    """4×4 image, pixel p has all channels p·8 → luma 24p, mean 180:
    bit p set iff 24p·16 > 2880 ⇔ p ≥ 8 → hash 0xFF00.  Scaling every
    channel by 2 (still within uint8) must not change the hash (aHash
    compares to the image mean, not absolute levels)."""
    import numpy as np

    base = (np.arange(16, dtype=np.uint8).repeat(3) * 8).reshape(4, 4, 3)
    rows = [
        (1, "image", "image/raw-rgb", base.tobytes(), 4, 4, None, "d"),
        (2, "image", "image/raw-rgb", (base * 2).tobytes(), 4, 4, None, "d"),
        (3, "image", "image/png", b"\x89PNG not raw", 4, 4, None, "d"),
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = {r.asset_id: r for r in multimodal.ahash_images(assets).collect()}
    assert out[1].ahash == 0xFF00
    assert out[2].ahash == 0xFF00
    assert out[3].ahash is None  # codec seam: undecodable → null
    assert out[1].n_cells == 16


def test_ahash_block_downsample_unequal_cells(spark):
    """5×5 image hashed on a 4×4 grid exercises the unequal-block
    cross-multiplied compare; result must equal a direct Python replay
    of the same integer rule."""
    import numpy as np

    rng_bytes = bytes((i * 37 + 11) % 256 for i in range(5 * 5 * 3))
    arr = np.frombuffer(rng_bytes, dtype=np.uint8).reshape(5, 5, 3)
    lum = arr.astype(int).sum(axis=2)
    total, n_pix = int(lum.sum()), 25
    expected = 0
    for gy in range(4):
        y0, y1 = gy * 5 // 4, (gy + 1) * 5 // 4
        for gx in range(4):
            x0, x1 = gx * 5 // 4, (gx + 1) * 5 // 4
            blk = int(lum[y0:y1, x0:x1].sum())
            if blk * n_pix > total * (y1 - y0) * (x1 - x0):
                expected |= 1 << (gy * 4 + gx)
    rows = [(9, "image", "image/raw-rgb", rng_bytes, 5, 5, None, "d")]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = multimodal.ahash_images(assets).collect()[0]
    assert out.ahash == expected


def _ahash_slice_loop(lum, grid: int) -> int:
    """The per-block slice-sum reference for ahash_images' rule."""
    hh, ww = lum.shape
    total, n_pix = int(lum.sum()), hh * ww
    sig = 0
    for gy in range(grid):
        y0, y1 = gy * hh // grid, (gy + 1) * hh // grid
        for gx in range(grid):
            x0, x1 = gx * ww // grid, (gx + 1) * ww // grid
            blk = int(lum[y0:y1, x0:x1].sum())
            if blk * n_pix > total * (y1 - y0) * (x1 - x0):
                sig |= 1 << (gy * grid + gx)
    return sig


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grid=st.integers(min_value=2, max_value=7),
    shapes=st.lists(
        st.tuples(st.integers(1, 9), st.integers(1, 9)), min_size=1, max_size=6
    ),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@example(grid=4, shapes=[(3, 3)], seed=0)
def test_ahash_matches_slice_loop_on_images_smaller_than_grid(
    spark, grid, shapes, seed
):
    """Images with fewer rows or columns than ``grid`` have empty
    blocks; the vectorized kernel must sum them to 0 like the slice
    loop, not pick up the pixel at the repeated block start."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows, expected = [], {}
    for i, (h, w) in enumerate(shapes):
        if i % 2 == 0:
            h = min(h, grid - 1)
        else:
            w = min(w, grid - 1)
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((i, "image", "image/raw-rgb", arr.tobytes(), w, h, None, "d"))
        expected[i] = _ahash_slice_loop(arr.astype(np.int64).sum(axis=2), grid)
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    got = {
        r.asset_id: r.ahash
        for r in multimodal.ahash_images(assets, grid=grid).collect()
    }
    assert got == expected


def test_image_near_dup_pairs_lossless(spark):
    """Planted duplicates: identical image → hamming 0; one-pixel edit
    → small hamming; unrelated pattern excluded.  Output must equal the
    brute-force pair set over the kernel hashes (blocking is
    lossless)."""
    import numpy as np

    base = (np.arange(16, dtype=np.uint8).repeat(3) * 10).reshape(4, 4, 3)
    near = base.copy()
    near[0, 0] = 255  # push one dark pixel above the mean
    other = np.zeros((4, 4, 3), dtype=np.uint8)
    other[0, 0] = 200  # a very different luma layout
    rows = [
        (1, "image", "image/raw-rgb", base.tobytes(), 4, 4, None, "d"),
        (2, "image", "image/raw-rgb", base.tobytes(), 4, 4, None, "d"),
        (3, "image", "image/raw-rgb", near.tobytes(), 4, 4, None, "d"),
        (4, "image", "image/raw-rgb", other.tobytes(), 4, 4, None, "d"),
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    hashes = {
        r.asset_id: r.ahash
        for r in multimodal.ahash_images(assets).collect()
    }
    brute = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a in hashes
        for b in hashes
        if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_near_dup_pairs(
            assets, max_hamming=3
        ).collect()
    }
    assert got == brute
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] >= 1
    assert (1, 4) not in got


def test_audio_fingerprint_energy_delta_exact(spark):
    """Hand-computed energy-delta fingerprint on a short track, plus
    amplitude-scale invariance (volume must not change the bits) and
    the too-short/undecodable null seam."""
    import numpy as np

    n_bits, n_win = 8, 9
    base = np.array(
        [10, -20, 5, 300, -4, 80, 80, -80, 7, 900, 2, -2, 40, 40, 1, -1, 60, 3],
        dtype="<i2",
    )
    ab = np.abs(base.astype(int))
    n = len(ab)
    bounds = [w * n // n_win for w in range(n_win + 1)]
    e = [int(ab[bounds[w] : bounds[w + 1]].sum()) for w in range(n_win)]
    ln = [bounds[w + 1] - bounds[w] for w in range(n_win)]
    expected = sum(
        1 << w
        for w in range(n_bits)
        if e[w + 1] * ln[w] > e[w] * ln[w + 1]
    )
    rows = [
        (1, "audio", "audio/pcm-s16le", base.tobytes(), None, None, None, "d"),
        (2, "audio", "audio/pcm-s16le", (base * 3).tobytes(), None, None, None, "d"),
        (3, "audio", "audio/pcm-s16le", base[:4].tobytes(), None, None, None, "d"),
        (4, "audio", "audio/mpeg", b"\x00\x01\x02", None, None, None, "d"),
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = {
        r.asset_id: r
        for r in multimodal.audio_fingerprint(assets, n_bits=n_bits).collect()
    }
    assert out[1].afp == expected and out[1].n_windows == n_win
    assert out[2].afp == expected  # 3x volume, same fingerprint
    assert out[3].afp is None  # shorter than n_win samples
    assert out[4].afp is None  # odd byte count: undecodable


def test_audio_fingerprint_unbiased_on_unequal_windows(spark):
    """64 samples into 33 windows alternates 1- and 2-sample windows;
    a constant-amplitude signal must fingerprint to 0 (every MEAN
    equal — the raw-sum compare would set every 2-vs-1 boundary bit
    and collapse hash entropy)."""
    import numpy as np

    const = np.full(64, 100, dtype="<i2")
    rows = [(1, "audio", "audio/pcm-s16le", const.tobytes(), None, None, None, "d")]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = multimodal.audio_fingerprint(assets, n_bits=32).collect()[0]
    assert out.afp == 0


def test_audio_near_dup_pairs_lossless(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randint(-5000, 5000, size=64).astype("<i2")
    near = base.copy()
    near[0] = 5000  # perturb one sample
    other = rng.randint(-5000, 5000, size=64).astype("<i2")
    rows = [
        (1, "audio", "audio/pcm-s16le", base.tobytes(), None, None, None, "d"),
        (2, "audio", "audio/pcm-s16le", base.tobytes(), None, None, None, "d"),
        (3, "audio", "audio/pcm-s16le", near.tobytes(), None, None, None, "d"),
        (4, "audio", "audio/pcm-s16le", other.tobytes(), None, None, None, "d"),
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    fps = {
        r.asset_id: r.afp
        for r in multimodal.audio_fingerprint(assets, n_bits=32).collect()
    }
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.audio_near_dup_pairs(
            assets, n_bits=32, max_hamming=3
        ).collect()
    }
    assert got == brute
    assert got[(1, 2)] == 0
