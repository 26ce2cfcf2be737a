"""Scene segmentation over frame hashes computed from real rasters.

The multimodal catalog derives frame hashes from deterministic
stand-ins. This module feeds the catalog's own scene SQL
(``queries/multimodal._scene_sql``) average hashes of structurally
distinct 64x64 images, computed here in numpy, and pins the resulting
cut/scene counts; an independent popcount loop confirms every hamming
distance the SQL thresholds.
"""

from __future__ import annotations

import numpy as np

from automated_data_pipeline_python_spark.queries.multimodal import (
    _CUT_HAMMING,
    _scene_sql,
)

# ---------------------------------------------------------------------------
# Test images (64x64 grayscale, visually distinct structure)
# ---------------------------------------------------------------------------

_N = 64


def _grad_lr() -> np.ndarray:  # left-to-right ramp
    return np.tile(np.linspace(0, 255, _N), (_N, 1)).astype(np.uint8)


def _grad_tb() -> np.ndarray:  # top-to-bottom ramp
    return _grad_lr().T.copy()


def _checker() -> np.ndarray:  # 16-px checkerboard
    yy, xx = np.mgrid[0:_N, 0:_N]
    return (((yy // 16 + xx // 16) % 2) * 255).astype(np.uint8)


def _ahash64(arr: np.ndarray) -> int:
    """64-bit average hash: row-major 8x8 block means, bit = cell >
    global mean. Unsigned; ``_signed`` maps it into LongType."""
    cells = arr.astype(np.float64).reshape(8, _N // 8, 8, _N // 8).mean(
        axis=(1, 3)
    )
    v = 0
    for bit in (cells > cells.mean()).flatten():
        v = (v << 1) | int(bit)
    return v


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_scene_cuts_from_decoded_pixels(spark):
    """aHash of real rasters → JVM bit_count scene segmentation, counts
    pinned and every hamming confirmed by a numpy popcount loop.

    Three 8-frame clips: [A x3, B x5] (one hard cut), [A x8] (none),
    [A x2, B x3, C x3] (two hard cuts). A/B/C are structurally distinct
    images, so their pairwise aHash distances clear the same
    _CUT_HAMMING threshold the catalog query uses."""
    a, b, c = _grad_lr(), _grad_tb(), _checker()
    # precondition: the images are far apart in aHash space, and
    # identical frames are at distance zero
    for x, y in ((a, b), (a, c), (b, c)):
        assert _hamming(_ahash64(x), _ahash64(y)) >= _CUT_HAMMING
    clips = {
        101: [a] * 3 + [b] * 5,
        102: [a] * 8,
        103: [a] * 2 + [b] * 3 + [c] * 3,
    }
    rows = [
        (mid, i, _signed(_ahash64(frame)))
        for mid, frames in clips.items()
        for i, frame in enumerate(frames)
    ]
    # (clip, sample, hash) + the constant 8 s clip duration, then the
    # catalog family's own scene SQL tail over the frame hashes
    spark.createDataFrame(rows, "media_id BIGINT, sample_id BIGINT, fh BIGINT").selectExpr(
        "media_id",
        "sample_id",
        "CAST(8000 AS BIGINT) AS duration_ms",
        "fh",
    ).createOrReplaceTempView("codec_frames")
    try:
        got = {
            r.media_id: r
            for r in spark.sql(
                _scene_sql("codec_frames", lambda x, y: f"({x} ^ {y})")
            ).collect()
        }
    finally:
        spark.catalog.dropTempView("codec_frames")
    assert {m: (g.n_cuts, g.n_scenes) for m, g in got.items()} == {
        101: (1, 2),
        102: (0, 1),
        103: (2, 3),
    }
    assert got[101].mean_scene_ms == 4000.0
    assert got[103].n_frames == 8
    # independent popcount sweep over the same hashes
    for mid, frames in clips.items():
        hs = [_ahash64(f) for f in frames]
        cuts = sum(
            1
            for p, q in zip(hs, hs[1:])
            if _hamming(p, q) >= _CUT_HAMMING
        )
        assert got[mid].n_cuts == cuts, mid
