"""r16: next-generation image headers — HEIF (HEVC-coded, iPhone
default; ISO 23008-12 meta walk, header-only boundary) and JPEG XL
(SizeHeader bitstream walk over codestream and container)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.multimodal import (
    encode_avif_header,
    encode_heif_header,
    encode_jxl_header,
    heif_header_stats,
    jxl_header_stats,
)


class TestHeif:
    def test_walk_brands_and_alpha(self):
        for brand in (b"heic", b"heix", b"mif1"):
            for alpha in (False, True):
                blob = encode_heif_header(640, 480, brand, alpha)
                assert heif_header_stats(blob) == (
                    brand.decode(), 640, 480, alpha,
                )

    def test_avif_stays_in_its_own_walk(self):
        with pytest.raises(ValueError, match="is not HEIF"):
            heif_header_stats(encode_avif_header(10, 10))
        with pytest.raises(ValueError, match="ispe"):
            # meta present but no ispe
            from openaq_data_pipeline_spark.operators.multimodal import (
                _mp4_box,
                _mp4_full,
            )
            import struct

            blob = (
                _mp4_box(
                    b"ftyp",
                    b"heic" + struct.pack(">I", 0) + b"heicmif1",
                )
                + _mp4_full(b"meta", 0, 0, b"")
            )
            heif_header_stats(blob)


class TestJxl:
    @pytest.mark.parametrize(
        "w,h", [(8, 8), (256, 160), (100, 77), (513, 1000),
                (70000, 12345), (1 << 29, 3)]
    )
    def test_sizeheader_roundtrip(self, w, h):
        for cont in (False, True):
            blob = encode_jxl_header(w, h, container=cont)
            assert jxl_header_stats(blob) == (w, h, cont)

    def test_rejects(self):
        with pytest.raises(ValueError, match="truncated"):
            jxl_header_stats(b"\xff\x0a")
        with pytest.raises(ValueError, match="not a JPEG XL"):
            jxl_header_stats(b"\xff\xd8\xff\xe0")
        with pytest.raises(ValueError, match="jxlc"):
            from openaq_data_pipeline_spark.operators.multimodal import (
                _JXL_CONTAINER_SIG,
                _mp4_box,
            )

            jxl_header_stats(
                _JXL_CONTAINER_SIG + _mp4_box(b"free", b"")
            )


class TestSniff:
    def test_heif_and_jxl_route_image(self, spark):
        from openaq_data_pipeline_spark.operators.router import (
            route_for_mime,
        )
        from openaq_data_pipeline_spark.operators.text import sniff_mime

        rows = [
            (0, encode_heif_header(8, 6, b"heic")),
            (1, encode_heif_header(8, 6, b"mif1")),
            (2, encode_jxl_header(16, 16)),
            (3, encode_jxl_header(16, 16, container=True)),
            # a plain mp4 brand still routes video
            (4, b"\x00\x00\x00\x14ftypisom" + b"\x00" * 12),
        ]
        df = spark.createDataFrame(rows, "id long, payload binary")
        got = {
            r.id: (r.m, r.route)
            for r in df.select(
                "id", sniff_mime(F.col("payload")).alias("m")
            )
            .withColumn("route", route_for_mime(F.col("m")))
            .collect()
        }
        assert got[0] == ("image/heif", "image")
        assert got[1] == ("image/heif", "image")
        assert got[2] == ("image/jxl", "image")
        assert got[3] == ("image/jxl", "image")
        assert got[4] == ("video/mp4", "video")


class TestNextgenOracle:
    """nextgen_image_features against DuckDB: per document the blob
    rotates through heic, heic+alpha (MIAF auxC URN), mif1,
    bare-codestream JXL, container JXL (dims exercise both the div8
    fast path and the U32 arm) and a truncated-JXL residue that must
    keep NULL columns; the sniffer routes both formats to the image
    plane. The oracle is the closed form of the synthesis."""

    ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 6 IN (0, 1, 2) THEN 'image/heif'
            ELSE 'image/jxl' END AS mime,
       'image' AS route,
       CASE WHEN doc_id % 6 = 5 THEN NULL
            WHEN doc_id % 6 IN (0, 1, 2) THEN 'heif'
            ELSE 'jxl' END AS fmt,
       CASE WHEN doc_id % 6 = 5 THEN NULL
            WHEN doc_id % 6 IN (0, 1, 2)
                THEN CAST(320 + doc_id % 200 AS INT)
            WHEN doc_id % 6 = 3 THEN CAST(8 * (1 + doc_id % 32) AS INT)
            ELSE CAST(257 + doc_id % 700 AS INT) END AS width,
       CASE WHEN doc_id % 6 = 5 THEN NULL
            WHEN doc_id % 6 IN (0, 1, 2)
                THEN CAST(240 + doc_id % 100 AS INT)
            WHEN doc_id % 6 = 3 THEN CAST(8 * (1 + doc_id % 16) AS INT)
            ELSE CAST(300 + doc_id % 500 AS INT) END AS height,
       CASE WHEN doc_id % 6 IN (0, 1, 2) THEN doc_id % 6 = 1
            END AS has_alpha,
       CASE WHEN doc_id % 6 IN (3, 4) THEN doc_id % 6 = 4
            END AS is_container
FROM documents
ORDER BY doc_id
"""

    def test_six_arms_match_duckdb(self, spark):
        from openaq_data_pipeline_spark.catalog import load
        from openaq_data_pipeline_spark.operators.multimodal import (
            nextgen_image_features,
        )
        from openaq_data_pipeline_spark.operators.router import (
            route_for_mime,
        )
        from openaq_data_pipeline_spark.operators.text import sniff_mime
        from oracle_harness import SF_DIR, compare, run_oracle

        d = load(spark, SF_DIR, "documents")["documents"].select("doc_id")

        def synth(batches):
            for pdf in batches:
                pdf = pdf.copy()
                blobs = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    arm = i % 6
                    if arm in (0, 1, 2):
                        brand = (b"heic", b"heic", b"mif1")[arm]
                        blobs.append(
                            encode_heif_header(
                                320 + i % 200, 240 + i % 100, brand,
                                has_alpha=arm == 1,
                            )
                        )
                    elif arm == 3:  # div8 fast path, bare codestream
                        blobs.append(
                            encode_jxl_header(
                                8 * (1 + i % 32), 8 * (1 + i % 16)
                            )
                        )
                    elif arm == 4:  # U32 arm, container
                        blobs.append(
                            encode_jxl_header(
                                257 + i % 700, 300 + i % 500,
                                container=True,
                            )
                        )
                    else:  # truncated codestream: NULL columns
                        blobs.append(b"\xff\x0a")
                pdf["content"] = blobs
                yield pdf[["doc_id", "content"]]

        imgs = d.mapInPandas(synth, schema="doc_id long, content binary")
        mimes = imgs.select(
            "doc_id", sniff_mime(F.col("content")).alias("mime")
        ).withColumn("route", route_for_mime(F.col("mime")))
        out = (
            nextgen_image_features(
                imgs, "content", id_col="doc_id", lenient=True
            )
            .join(mimes, "doc_id")
            .select(
                "doc_id", "mime", "route", "fmt", "width", "height",
                "has_alpha", "is_container",
            )
        )
        problems = compare(out, run_oracle(self.ORACLE, SF_DIR))
        assert not problems, problems
