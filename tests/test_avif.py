"""AVIF pixel tier through the gated system-libavif binding (r15,
VERDICT r14 next #2): empirical ABI gate, encode/decode round-trips,
bomb cap, corrupt degrade, box-walk cross-validation, and the
lenient image-plane composition."""

from __future__ import annotations

import numpy as np
import pytest

from openaq_data_pipeline_spark.operators.avif_native import (
    available,
    decode_avif_native,
    encode_avif,
    encoder_available,
)
from openaq_data_pipeline_spark.operators.multimodal import (
    avif_header_stats,
    encode_avif_header,
)


class TestAvifNative:
    def test_gates_open_in_this_container(self):
        assert available(), (
            "system libavif must load + pass the ABI self-check here"
        )
        assert encoder_available()

    def test_constant_roundtrip_exact(self):
        img = np.full((9, 17, 3), 77, np.uint8)
        out = decode_avif_native(encode_avif(img))
        assert out.shape == (9, 17, 3)
        # YUV444 constant survives aom/dav1d exactly
        assert np.array_equal(out, img)

    def test_gradient_roundtrip_banded(self):
        y, x = np.mgrid[0:16, 0:24]
        img = np.stack(
            [(x * 10) % 256, (y * 12) % 256, ((x + y) * 7) % 256], -1
        ).astype(np.uint8)
        out = decode_avif_native(encode_avif(img))
        assert out.shape == img.shape
        assert np.abs(
            out.astype(np.int64) - img.astype(np.int64)
        ).mean() < 5.0

    def test_corrupt_truncated_and_cap(self):
        blob = encode_avif(np.full((8, 8, 3), 50, np.uint8))
        with pytest.raises(ValueError, match="libavif decode failed"):
            decode_avif_native(blob[:40])
        with pytest.raises(ValueError):
            decode_avif_native(b"\x00\x00\x00 ftypavifjunk" * 4)
        # dimension cap refuses BEFORE the RGB buffer allocates
        with pytest.raises(ValueError, match="exceed.*cap"):
            decode_avif_native(blob, max_px=10)
        # bytearray (the Arrow shape) coerces
        assert decode_avif_native(bytearray(blob)).shape == (8, 8, 3)

    def test_box_walk_cross_validates_native_output(self):
        """The engine's own pure-Python AVIF box walk (r14) must
        agree with the native decode on real libavif output —
        external ground truth for the walk, the webp/vp8l posture."""
        for h, w in ((5, 12), (33, 7), (16, 16)):
            blob = encode_avif(np.full((h, w, 3), 90, np.uint8))
            ww, hh, alpha, anim = avif_header_stats(blob)
            assert (ww, hh, alpha, anim) == (w, h, False, False)
            assert decode_avif_native(blob).shape == (h, w, 3)

    def test_image_plane_composition(self, spark):
        """One lenient Arrow pass: a real AVIF yields true pixel
        stats, a header-valid-garbage-OBU AVIF keeps header dims
        with NULL pixels, and a meta-less corrupt AVIF keeps only
        byte stats — no stage failure."""
        from openaq_data_pipeline_spark.operators.multimodal import (
            extract_features,
        )

        real = encode_avif(np.full((6, 10, 3), 40, np.uint8))
        header_only = encode_avif_header(20, 11)
        good = encode_avif_header(20, 11)
        corrupt = good[: good.index(b"meta") - 4]
        df = spark.createDataFrame(
            [(0, real), (1, header_only), (2, corrupt)],
            "id long, payload binary",
        )
        rows = {
            r.id: r
            for r in extract_features(
                df, "payload", id_col="id", decode="real", lenient=True
            ).collect()
        }
        assert (rows[0].width, rows[0].height) == (10, 6)
        assert rows[0].px_sum == 40 * 6 * 10 * 3
        assert (rows[1].width, rows[1].height) == (20, 11)
        assert rows[1].px_sum is None
        assert rows[2].width is None and rows[2].px_sum is None
        assert rows[2].n_bytes == len(corrupt)

    def test_absent_library_query_still_green(self, spark, monkeypatch):
        """VERDICT r14 next #3 extended to the AVIF driver row: with
        the loader gated shut, q_image_avif_stats folds its real arm
        and matches the re-derived oracle."""
        from openaq_data_pipeline_spark.operators import (
            avif_native as an,
        )
        from openaq_data_pipeline_spark.queries_crawl import (
            _avif_stats_oracle,
            q_image_avif_stats,
        )
        from oracle_harness import compare, run_oracle

        monkeypatch.setattr(an, "_LIB", None)
        monkeypatch.setattr(an, "_LOAD_FAILED", True)
        monkeypatch.setattr(an, "_ENCODER_OK", False)
        sf = "/root/testdata/sf0.001"
        df = q_image_avif_stats(spark, sf)
        problems = compare(df, run_oracle(_avif_stats_oracle(False), sf))
        assert not problems, problems
