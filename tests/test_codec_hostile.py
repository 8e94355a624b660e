"""Hostile codec input degrades to a bounded cost or an exact answer:
the JPEG entropy decoder stays linear in segment length, the Huffman
lookup-table cache stays bounded, and the FLAC fixed predictor never
wraps int64."""

from __future__ import annotations

import time

import numpy as np

from openaq_data_pipeline_spark.operators import multimodal as mm
from openaq_data_pipeline_spark.operators.flac import (
    _FIXED_COEFS,
    _predict,
    _predict_fixed,
)


def _best_decode_s(blob: bytes, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        mm.decode_jpeg_baseline(blob)
        best = min(best, time.perf_counter() - t0)
    return best


def test_jpeg_decode_time_is_linear_in_segment_length():
    """Noise at q=1 gives one long entropy segment (no restart
    markers). An 8x longer segment must cost well under 20x: an
    accumulator that keeps every bit it has read makes each shift
    O(segment) and the decode quadratic (~80x here)."""
    rng = np.random.default_rng(0)
    base, long = (
        mm.encode_jpeg_baseline(
            rng.integers(0, 256, size=(64, w, 3), dtype=np.uint8), q=1
        )
        for w in (64, 512)
    )
    assert len(long) > 7 * len(base)
    ratio = _best_decode_s(long, 2) / _best_decode_s(base, 3)
    assert ratio < 20, f"8x segment cost {ratio:.1f}x"


def test_jpeg_huffman_lut_cache_is_bounded():
    """Each distinct Huffman table builds a 64K-entry lookup table; a
    stream of distinct tables must not keep them all."""
    for i in range(3 * mm._LUT16_CACHE_MAX):
        table = mm._huff_lookup([2] + [0] * 15, [i % 256, (i + 1) % 256 + 256])
        mm._huff_lut16(table)
        assert len(mm._LUT16_CACHE) <= mm._LUT16_CACHE_MAX
    # a table still cached is a hit, not a rebuild
    hot = mm._huff_lookup([2] + [0] * 15, [7, 8])
    assert mm._huff_lut16(hot) is mm._huff_lut16(hot)


def test_flac_fixed_predictor_exact_on_hostile_residuals():
    """Order-4 integration of large residuals outgrows int64 within a
    block; the result must equal the exact Python-int predictor, not a
    wrapped cumsum (nor an OverflowError past int64 residuals)."""
    rng = np.random.default_rng(1)
    warm = [3, -5, 7, 11]
    for order, residual in [
        (4, [1 << 40] * 4096),
        (3, [int(v) for v in rng.integers(-(1 << 60), 1 << 60, 512)]),
        (2, [(1 << 70) + 5, -3, 9]),
    ]:
        w = warm[:order]
        assert _predict_fixed(w, residual, order) == _predict(
            w, residual, _FIXED_COEFS[order], 0
        ), order
    # conforming residuals keep the vectorized path's exact answer
    residual = [int(v) for v in rng.integers(-(1 << 20), 1 << 20, 4096)]
    assert _predict_fixed(warm, residual, 4) == _predict(
        warm, residual, _FIXED_COEFS[4], 0
    )
