"""Progressive-JPEG tier through the gated system-libjpeg shim (r15,
VERDICT r14 next #5): gate, SOF2 round-trips, bomb cap, corrupt
degrade, baseline cross-validation against libjpeg (external ground
truth for the pure-Python T.81 decoder), the any-SOF header walk,
and the lenient image-plane composition."""

from __future__ import annotations

import numpy as np
import pytest

from openaq_data_pipeline_spark.operators.jpeg_native import (
    available,
    decode_jpeg_native,
    encode_jpeg_native,
)
from openaq_data_pipeline_spark.operators.multimodal import (
    decode_jpeg_baseline,
    encode_jpeg_baseline,
    jpeg_header_stats,
)


class TestJpegNative:
    def test_gate_open_in_this_container(self):
        assert available(), (
            "system gcc + jpeglib.h + libjpeg must build the shim here"
        )

    def test_progressive_roundtrip(self):
        img = np.full((12, 20, 3), 99, np.uint8)
        blob = encode_jpeg_native(img, quality=95, progressive=True)
        assert b"\xff\xc2" in blob  # genuinely SOF2
        # the pure-Python baseline decoder refuses it...
        with pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg_baseline(blob)
        # ...the shim decodes it (constant YCbCr survives exactly)
        out = decode_jpeg_native(blob)
        assert out.shape == (12, 20, 3)
        assert np.abs(out.astype(np.int64) - 99).mean() < 2.0

    def test_gradient_progressive_banded(self):
        y, x = np.mgrid[0:24, 0:32]
        img = np.stack(
            [(x * 9) % 256, (y * 11) % 256, ((x + y) * 5) % 256], -1
        ).astype(np.uint8)
        out = decode_jpeg_native(
            encode_jpeg_native(img, quality=92, progressive=True)
        )
        assert out.shape == img.shape
        assert np.abs(
            out.astype(np.int64) - img.astype(np.int64)
        ).mean() < 12.0

    def test_corrupt_and_cap(self):
        blob = encode_jpeg_native(
            np.full((8, 8, 3), 50, np.uint8), progressive=True
        )
        with pytest.raises(ValueError, match="libjpeg decode failed"):
            decode_jpeg_native(blob[:10])
        with pytest.raises(ValueError, match="exceed.*cap"):
            decode_jpeg_native(blob, max_px=10)
        assert decode_jpeg_native(bytearray(blob)).shape == (8, 8, 3)

    def test_baseline_decoder_cross_validates_against_libjpeg(self):
        """External ground truth for the engine's pure-Python T.81
        baseline decoder (the vp8l-vs-libwebp posture): on
        libjpeg-encoded baseline streams both decoders must agree
        within IDCT rounding."""
        rng = np.random.default_rng(15)
        # 4:4:4 so the comparison isolates the entropy/DCT path (at
        # 4:2:0 libjpeg's fancy chroma upsampling vs the engine's
        # replication is a policy difference, not a bug)
        for shape, q in (((16, 16, 3), 95), ((9, 21, 3), 85)):
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            blob = encode_jpeg_native(
                img, quality=q, progressive=False, subsample444=True
            )
            ours = decode_jpeg_baseline(blob)
            theirs = decode_jpeg_native(blob)
            assert ours.shape == theirs.shape
            assert np.abs(
                ours.astype(np.int64) - theirs.astype(np.int64)
            ).mean() < 1.5, (shape, q)
        # 4:2:0 constant image: upsampling policy cannot differ on a
        # constant plane — exact agreement expected
        img = np.full((18, 22, 3), 73, np.uint8)
        blob = encode_jpeg_native(img, quality=90, progressive=False)
        assert np.abs(
            decode_jpeg_baseline(blob).astype(np.int64)
            - decode_jpeg_native(blob).astype(np.int64)
        ).mean() < 1.0
        # and the reverse direction: libjpeg decodes OUR encoder's
        # streams to the same pixels our decoder sees
        img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
        blob = encode_jpeg_baseline(img)
        assert np.abs(
            decode_jpeg_native(blob).astype(np.int64)
            - decode_jpeg_baseline(blob).astype(np.int64)
        ).mean() < 1.5

    def test_any_sof_header_walk(self):
        img = np.full((10, 14, 3), 60, np.uint8)
        prog = encode_jpeg_native(img, progressive=True)
        base = encode_jpeg_baseline(img)
        assert jpeg_header_stats(prog) == (14, 10, 3, True)
        assert jpeg_header_stats(base) == (14, 10, 3, False)
        with pytest.raises(ValueError, match="not a JPEG"):
            jpeg_header_stats(b"BM1234")
        with pytest.raises(ValueError, match="missing SOF"):
            jpeg_header_stats(b"\xff\xd8\xff\xd9")

    def test_fill_bytes_between_markers(self):
        """B.1.1.2: any number of 0xFF fill bytes may pad between
        markers — spec-legal, produced by real encoders; both the
        header walk and the full decoder must skip them (ADVICE
        r15: the padded walk used to misread the pad as a marker)."""
        img = np.full((10, 14, 3), 60, np.uint8)
        base = encode_jpeg_baseline(img)
        padded = base[:2] + b"\xff\xff\xff" + base[2:]
        assert jpeg_header_stats(padded) == (14, 10, 3, False)
        assert np.array_equal(
            decode_jpeg_baseline(padded), decode_jpeg_baseline(base)
        )
        # all-fill tail (no marker id before EOF) → clean ValueError
        with pytest.raises(ValueError, match="missing SOF"):
            jpeg_header_stats(b"\xff\xd8" + b"\xff" * 6)

    def test_shim_cache_dir_is_private(self, tmp_path):
        """ADVICE r15: the compiled shim must cache under a per-user
        0700 directory and refuse to dlopen from an untrusted one
        (/tmp-preload)."""
        import os

        from openaq_data_pipeline_spark.operators import (
            jpeg_native as jn,
        )

        d = jn._shim_cache_dir()
        st = os.stat(d)
        assert st.st_uid == os.getuid()
        assert not (st.st_mode & 0o022)
        assert jn._dir_is_trusted(d)
        assert jn._shim_path().startswith(d + os.sep)
        bad = tmp_path / "worldwritable"
        bad.mkdir()
        os.chmod(bad, 0o777)
        assert not jn._dir_is_trusted(str(bad))
        assert not jn._dir_is_trusted(str(tmp_path / "missing"))

    def test_image_plane_composition(self, spark):
        """One lenient Arrow pass: progressive decodes real pixels,
        baseline decodes via the pure-Python path, a SOF2 header-only
        stream keeps walked dims with NULL pixels."""
        import struct

        from openaq_data_pipeline_spark.operators.multimodal import (
            extract_features,
        )

        img = np.full((6, 10, 3), 40, np.uint8)
        comps = b"".join(
            bytes([cid, 0x11, tq]) for cid, tq in ((1, 0), (2, 1), (3, 1))
        )
        body = struct.pack(">BHHB", 8, 7, 13, 3) + comps
        sof2_only = (
            b"\xff\xd8\xff\xc2" + struct.pack(">H", 2 + len(body)) + body
        )
        df = spark.createDataFrame(
            [
                (0, encode_jpeg_native(img, progressive=True)),
                (1, encode_jpeg_baseline(img)),
                (2, sof2_only),
            ],
            "id long, payload binary",
        )
        rows = {
            r.id: r
            for r in extract_features(
                df, "payload", id_col="id", decode="real", lenient=True
            ).collect()
        }
        assert (rows[0].width, rows[0].height) == (10, 6)
        assert rows[0].px_sum is not None
        assert abs(rows[0].mean_px - 40) < 2
        assert rows[1].px_sum is not None
        assert (rows[2].width, rows[2].height) == (13, 7)
        assert rows[2].px_sum is None

    def test_absent_shim_query_still_green(self, spark, monkeypatch):
        """With the shim gated shut, q_image_jpeg_progressive folds
        its progressive arm and matches the re-derived oracle."""
        from openaq_data_pipeline_spark.operators import (
            jpeg_native as jn,
        )
        from openaq_data_pipeline_spark.queries_crawl import (
            _jpeg_prog_oracle,
            q_image_jpeg_progressive,
        )
        from oracle_harness import compare, run_oracle

        monkeypatch.setattr(jn, "_LIB", None)
        monkeypatch.setattr(jn, "_LOAD_FAILED", True)
        sf = "/root/testdata/sf0.001"
        df = q_image_jpeg_progressive(spark, sf)
        problems = compare(df, run_oracle(_jpeg_prog_oracle(False), sf))
        assert not problems, problems
