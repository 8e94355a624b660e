"""r16 capability wave: web-font metadata walk (sfnt/WOFF/WOFF2)
and HLS/M3U8 playlist explode."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.fonts import (
    encode_font_stub,
    font_header_stats,
)
from openaq_data_pipeline_spark.operators.frontier import (
    parse_hls_playlist,
)


class TestFonts:
    def test_sfnt_and_woff_roundtrip(self):
        for fmt in ("ttf", "otf", "woff"):
            got = font_header_stats(encode_font_stub(321, 2048, fmt))
            assert got == (fmt, 2, 2048, 321), fmt

    def test_woff2_header_only_boundary(self):
        # full 48-byte header + 7 null directory entries (flags 0,
        # origLength 0) and no head/maxp → declared count, NULL
        # metrics, regardless of the brotli gate
        w2 = (
            b"wOF2" + b"\x00\x01\x00\x00" + struct.pack(">I", 100)
            + struct.pack(">H", 7) + b"\x00" * 34 + b"\x00" * 14
        )
        assert font_header_stats(w2) == ("woff2", 7, None, None)
        # truncated directory is malformed, not NULL-metrics
        with pytest.raises(ValueError, match="directory truncated"):
            font_header_stats(w2[:50])

    def test_corrupt_head_magic_refused(self):
        blob = bytearray(encode_font_stub(9, 1000, "ttf"))
        off = 12 + 16 * 2 + 12
        blob[off] ^= 0xFF
        with pytest.raises(ValueError, match="magicNumber"):
            font_header_stats(bytes(blob))
        with pytest.raises(ValueError, match="unknown font magic"):
            font_header_stats(b"not a font at all")

    def test_woff_declared_origlength_enforced(self):
        blob = bytearray(encode_font_stub(9, 1000, "woff"))
        # corrupt the head origLength: declared != decompressed
        # table dir entry 0 starts at 44; origLength at +12
        struct.pack_into(">I", blob, 44 + 12, 53)
        with pytest.raises(ValueError, match="origLength|corrupt"):
            font_header_stats(bytes(blob))

    def test_font_sniff(self, spark):
        from openaq_data_pipeline_spark.operators.text import sniff_mime

        rows = [
            (0, encode_font_stub(5, 1000, "ttf")),
            (1, encode_font_stub(5, 1000, "otf")),
            (2, encode_font_stub(5, 1000, "woff")),
            (3, b"wOF2" + b"\x00" * 40),
        ]
        df = spark.createDataFrame(rows, "id long, payload binary")
        got = {
            r.id: r.m
            for r in df.select(
                "id", sniff_mime(F.col("payload")).alias("m")
            ).collect()
        }
        assert got == {
            0: "font/ttf", 1: "font/otf",
            2: "font/woff", 3: "font/woff2",
        }


class TestHls:
    def test_media_playlist_binding_and_comments(self, spark):
        pl = (
            "#EXTM3U\n#EXT-X-VERSION:3\n"
            "# comment must not bind\n\n"
            "#EXTINF:4.500,first\nseg0.ts\n"
            "#EXTINF:3.000,\nseg1.ts\n"
            "#EXT-X-ENDLIST\n"
        )
        df = spark.createDataFrame([(1, pl)], "id long, content string")
        rows = (
            parse_hls_playlist(df, "content", "id")
            .orderBy("entry_idx")
            .collect()
        )
        assert [
            (r.entry_idx, r.kind, r.duration_ms, r.uri) for r in rows
        ] == [
            (0, "segment", 4500, "seg0.ts"),
            (1, "segment", 3000, "seg1.ts"),
        ]

    def test_master_playlist_attrs(self, spark):
        pl = (
            "#EXTM3U\n"
            '#EXT-X-STREAM-INF:BANDWIDTH=800000,RESOLUTION=1280x720,'
            'CODECS="avc1"\nhd/index.m3u8\n'
            "#EXT-X-STREAM-INF:BANDWIDTH=300000\nsd/index.m3u8\n"
        )
        df = spark.createDataFrame([(1, pl)], "id long, content string")
        rows = (
            parse_hls_playlist(df, "content", "id")
            .orderBy("entry_idx")
            .collect()
        )
        assert [
            (r.kind, r.bandwidth, r.resolution, r.uri) for r in rows
        ] == [
            ("variant", 800000, "1280x720", "hd/index.m3u8"),
            ("variant", 300000, None, "sd/index.m3u8"),
        ]

    def test_non_m3u8_yields_no_rows(self, spark):
        df = spark.createDataFrame(
            [(1, "just text"), (2, "#EXTM3U\nno-tag-uri.ts\n")],
            "id long, content string",
        )
        rows = parse_hls_playlist(df, "content", "id").collect()
        # doc 1 gated out; doc 2's URI has no governing tag → drops
        assert rows == []


class TestWoff2:
    def test_real_woff2_metrics_via_brotli_gate(self):
        from openaq_data_pipeline_spark.operators.compress_native import (
            brotli_available,
        )

        if not brotli_available():
            pytest.skip("libbrotli not present")
        from openaq_data_pipeline_spark.operators.fonts import (
            encode_font_stub,
            font_header_stats,
        )

        blob = encode_font_stub(444, 1024, "woff2")
        assert font_header_stats(blob) == ("woff2", 2, 1024, 444)
        # corrupt stream → loud refusal, not wrong metrics
        bad = bytearray(blob)
        bad[60] ^= 0xFF
        with pytest.raises(ValueError, match="stream corrupt"):
            font_header_stats(bytes(bad))

    def test_gate_closed_folds_to_header_only(self, monkeypatch):
        from openaq_data_pipeline_spark.operators import (
            compress_native as cn,
        )
        from openaq_data_pipeline_spark.operators.fonts import (
            font_header_stats,
        )

        blob = (
            b"wOF2" + b"\x00\x01\x00\x00" + struct.pack(">I", 100)
            + struct.pack(">H", 3) + b"\x00" * 34
            + bytes([1, 54, 4, 6, 0, 0])  # head/maxp/cmap entries
        )
        monkeypatch.setattr(cn, "brotli_available", lambda: False)
        fmt, nt, upem, ng = font_header_stats(blob)
        assert (fmt, upem, ng) == ("woff2", None, None)

    def test_varint_malformations(self):
        from openaq_data_pipeline_spark.operators.fonts import (
            _uint_base128,
        )

        assert _uint_base128(b"\x7f", 0) == (127, 1)
        assert _uint_base128(b"\x81\x00", 0) == (128, 2)
        with pytest.raises(ValueError, match="leading zero"):
            _uint_base128(b"\x80\x01", 0)
        with pytest.raises(ValueError, match="truncated"):
            _uint_base128(b"\xff", 0)
        with pytest.raises(ValueError, match="5 bytes|overflow"):
            _uint_base128(b"\xff\xff\xff\xff\xff\x01", 0)


def test_woff2_ttcf_collection_stays_header_only():
    """The CollectionDirectory between table dir and stream is not
    modeled — a ttcf-flavor WOFF2 must return NULL metrics, never
    mis-parsed ones."""
    from openaq_data_pipeline_spark.operators.fonts import (
        font_header_stats,
    )

    blob = (
        b"wOF2" + b"ttcf" + struct.pack(">I", 100)
        + struct.pack(">H", 4) + b"\x00" * 34 + b"\x00" * 8
    )
    assert font_header_stats(blob) == ("woff2", 4, None, None)


class TestCssRefs:
    def test_url_spellings_imports_comments_and_data(self, spark):
        from openaq_data_pipeline_spark.operators.frontier import (
            extract_css_refs,
        )

        css = (
            '@import "reset.css";\n'
            "@import url('theme.css');\n"
            "/* url(commented.gif) */\n"
            '.a{background:url("img/a.png");}\n'
            ".b{background:url('img/b.png');}\n"
            ".c{background:url(img/c.png);}\n"
            ".d{cursor:url(data:image/png;base64,AAAA);}\n"
        )
        df = spark.createDataFrame([(1, css)], "id long, content string")
        rows = (
            extract_css_refs(df, "content", "id")
            .orderBy("ref_pos")
            .collect()
        )
        assert [(r.ref_pos, r.kind, r.uri) for r in rows] == [
            (0, "import", "reset.css"),
            (1, "import", "theme.css"),
            (2, "asset", "img/a.png"),
            (3, "asset", "img/b.png"),
            (4, "asset", "img/c.png"),
        ]


class TestFontOracle:
    """font_features against DuckDB: per document the blob rotates
    through raw sfnt TTF, CFF OTTO, a WOFF wrapper (per-table zlib
    under the declared origLength cap), a WOFF2 (real varint
    directory + one Brotli stream through the gated binding; without
    the library the arm folds to a header-only stub with NULL
    metrics) and a corrupt head-magic residue that must degrade to
    NULL columns. The oracle is the closed form of the synthesis."""

    @staticmethod
    def _oracle(br_ok: bool) -> str:
        if br_ok:
            nt3 = "CAST(2 AS INT)"
            upem3 = ("CAST(CASE doc_id % 4 WHEN 0 THEN 1000 WHEN 1 "
                     "THEN 2048 WHEN 2 THEN 1024 ELSE 512 END AS INT)")
            ng3 = "CAST(10 + doc_id % 500 AS INT)"
        else:
            nt3 = "CAST(5 + doc_id % 7 AS INT)"
            upem3 = "NULL"
            ng3 = "NULL"
        return f"""
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'ttf' WHEN 1 THEN 'otf' WHEN 2 THEN 'woff'
         WHEN 3 THEN 'woff2' ELSE NULL END AS format,
       CASE doc_id % 5
         WHEN 3 THEN {nt3}
         WHEN 4 THEN NULL
         ELSE CAST(2 AS INT) END AS n_tables,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            WHEN doc_id % 5 = 3 THEN {upem3}
            ELSE CAST(CASE doc_id % 4 WHEN 0 THEN 1000 WHEN 1
                 THEN 2048 WHEN 2 THEN 1024 ELSE 512 END AS INT)
            END AS units_per_em,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            WHEN doc_id % 5 = 3 THEN {ng3}
            ELSE CAST(10 + doc_id % 500 AS INT) END AS n_glyphs
FROM documents
ORDER BY doc_id
"""

    def test_five_arms_match_duckdb(self, spark):
        from openaq_data_pipeline_spark.catalog import load
        from openaq_data_pipeline_spark.operators.fonts import font_features
        from openaq_data_pipeline_spark.queries_crawl import (
            _native_brotli_ok,
        )
        from oracle_harness import SF_DIR, compare, run_oracle

        d = load(spark, SF_DIR, "documents")["documents"].select("doc_id")
        br_ok = _native_brotli_ok()  # frozen at plan build (driver side)

        def synth(batches):
            upems = (1000, 2048, 1024, 512)
            for pdf in batches:
                pdf = pdf.copy()
                blobs = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    arm = i % 5
                    ng, upem = 10 + i % 500, upems[i % 4]
                    if arm == 0:
                        blobs.append(encode_font_stub(ng, upem, "ttf"))
                    elif arm == 1:
                        blobs.append(encode_font_stub(ng, upem, "otf"))
                    elif arm == 2:
                        blobs.append(encode_font_stub(ng, upem, "woff"))
                    elif arm == 3:
                        if br_ok:
                            blobs.append(
                                encode_font_stub(ng, upem, "woff2")
                            )
                        else:  # header-only fold: full 48-byte
                            # header + null directory entries, no
                            # head/maxp -> declared count, NULL metrics
                            nt = 5 + i % 7
                            blobs.append(
                                b"wOF2" + b"\x00\x01\x00\x00"
                                + struct.pack(">I", 100)
                                + struct.pack(">H", nt)
                                + b"\x00" * 34 + b"\x00" * (2 * nt)
                            )
                    else:
                        # corrupt: head magicNumber flipped — the walk
                        # must refuse, the lenient plane keeps NULLs
                        b = bytearray(encode_font_stub(ng, upem, "ttf"))
                        off = 12 + 16 * 2 + 12  # head body + magic offset
                        b[off] ^= 0xFF
                        blobs.append(bytes(b))
                pdf["content"] = blobs
                yield pdf[["doc_id", "content"]]

        fonts = d.mapInPandas(synth, schema="doc_id long, content binary")
        out = font_features(
            fonts, "content", id_col="doc_id", lenient=True
        ).select("doc_id", "format", "n_tables", "units_per_em", "n_glyphs")
        problems = compare(out, run_oracle(self._oracle(br_ok), SF_DIR))
        assert not problems, problems
