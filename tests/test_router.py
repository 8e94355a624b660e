"""MIME-routed crawl front door (r11, VERDICT r10 next #3): magic-
byte routing with one bomb-capped gzip hop, per-plane extraction,
the mixed-modality WARC composition, and the routed streaming
intake."""

from __future__ import annotations

import gzip

import numpy as np
import pytest
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.multimodal import (
    encode_avi_mjpeg,
    encode_pdf_text,
    encode_png,
    encode_wav_pcm16,
)
from openaq_data_pipeline_spark.operators.router import (
    crawl_route_planes,
    extract_routed_text,
    gunzip_once,
    route_crawl_payloads,
    route_stats,
)

ART = (
    "the quick brown fox jumps over the lazy dog and then "
    "the calm river flows through the old valley and the town "
    "while the people of the village act with reason and care "
    "in a spirit of brotherhood for all of the free world and "
    "every autumn the water slows while the village measures "
    "the change with the same brass gauge it has used for "
    "eighty years of quiet work"
)


def _page(body: str) -> str:
    return (
        "<html><body>"
        '<nav><a href="/">Home</a> <a href="/n">News</a> '
        '<a href="/a">About</a></nav>'
        "<article><p>" + body + "</p></article>"
        '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a>'
        "</footer></body></html>"
    )


def _png() -> bytes:
    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    return encode_png(arr)


def _gif() -> bytes:
    from openaq_data_pipeline_spark.operators.multimodal import encode_gif

    # 3x2, two colors: top row (10,20,30), bottom row (200,210,220)
    arr = np.array(
        [[[10, 20, 30]] * 3, [[200, 210, 220]] * 3], dtype=np.uint8
    )
    return encode_gif(arr)


def _wav() -> bytes:
    t = np.arange(160)
    return encode_wav_pcm16(
        (1000 * np.sin(t / 5.0)).astype(np.int16), 8000
    )


def _avi() -> bytes:
    return encode_avi_mjpeg(
        [np.full((8, 8), 100, np.uint8)] * 3, fps=10
    )


def _mp4() -> bytes:
    from openaq_data_pipeline_spark.operators.multimodal import (
        encode_mp4_stub,
    )

    return encode_mp4_stub(5, 32, 16, fps=10)


class TestRouteCrawlPayloads:
    def _routes(self, spark, payloads):
        df = spark.createDataFrame(
            [(i, p) for i, p in enumerate(payloads)],
            "id long, payload binary",
        )
        rows = route_crawl_payloads(df, "payload").collect()
        return {r.id: r for r in rows}

    def test_all_planes(self, spark):
        got = self._routes(
            spark,
            [
                _page(ART).encode(),            # 0 html
                encode_pdf_text([ART]),          # 1 pdf
                ART.encode(),                    # 2 plain
                _png(),                          # 3 image
                _wav(),                          # 4 audio
                gzip.compress(ART.encode()),     # 5 gzip(plain) → hop
                bytes(range(16)) * 4,            # 6 junk
                None,                            # 7 null fetch
                _avi(),                          # 8 video
                _mp4(),                          # 9 ISO-BMFF video
            ],
        )
        expect = {
            0: ("text/html", "text", False),
            1: ("application/pdf", "text", False),
            2: ("text/plain", "text", False),
            3: ("image/png", "image", False),
            4: ("audio/x-wav", "audio", False),
            5: ("text/plain", "text", True),
            6: ("application/octet-stream", "discard", False),
            7: (None, "discard", False),
            8: ("video/x-msvideo", "video", False),
            9: ("video/mp4", "video", False),
        }
        assert {
            i: (r.mime, r.route, r.was_gzip) for i, r in got.items()
        } == expect
        # the gzip hop rewrote the payload to the inner bytes
        assert bytes(got[5].payload) == ART.encode()

    def test_gzip_edge_cases(self, spark):
        df = spark.createDataFrame(
            [
                (0, gzip.compress(gzip.compress(b"deep"))),  # nested
                (1, b"\x1f\x8b\x08corrupt-not-really-gzip"),
                (2, gzip.compress(bytes(1000))),  # bomb vs tiny cap
                (3, gzip.compress(ART.encode())),  # fits the cap
            ],
            "id long, payload binary",
        )
        rows = {
            r.id: r
            for r in route_crawl_payloads(
                df, "payload", max_gunzip_bytes=len(ART) + 16
            ).collect()
        }
        assert (rows[0].mime, rows[0].route) == (
            "application/gzip", "discard",  # one hop, never a loop
        )
        assert (rows[1].mime, rows[1].route) == (
            "application/gzip", "discard",
        )
        assert (rows[2].mime, rows[2].route) == (
            "application/gzip", "discard",
        )
        assert (rows[3].mime, rows[3].route) == ("text/plain", "text")

    def test_gunzip_once_cap_is_output_sized(self, spark):
        df = spark.createDataFrame(
            [(0, gzip.compress(bytes(10_000)))], "id long, payload binary"
        )
        ok = gunzip_once(df, "payload", "inner", max_bytes=10_000).first()
        assert len(bytes(ok.inner)) == 10_000
        bomb = gunzip_once(df, "payload", "inner", max_bytes=9_999).first()
        assert bomb.inner is None


class TestRouteStats:
    def test_counts_and_null_payload_accounting(self, spark):
        df = spark.createDataFrame(
            [
                (0, _page(ART).encode()),
                (1, ART.encode()),
                (2, gzip.compress(bytes(100_000))),  # bomb vs cap
                (3, None),
            ],
            "id long, payload binary",
        )
        routed = route_crawl_payloads(
            df, "payload", max_gunzip_bytes=1024
        )
        rows = {
            (r.mime, r.route, r.was_gzip): (r.n_payloads, r.n_bytes_null)
            for r in route_stats(routed).collect()
        }
        assert rows[("text/html", "text", False)] == (1, 0)
        assert rows[("text/plain", "text", False)] == (1, 0)
        # the bombed hop is visible: counted AND payload-null
        assert rows[("application/gzip", "discard", True)] == (1, 1)
        assert rows[(None, "discard", False)] == (1, 1)
        assert sum(n for n, _ in rows.values()) == 4

    def test_two_binary_columns_need_explicit_payload(self, spark):
        """ADVICE r11: a kept raw-bytes side column must not silently
        steal the NULL accounting — ambiguity raises, and an explicit
        payload_col binds to the right column."""
        df = spark.createDataFrame(
            [(0, ART.encode()), (1, None)], "id long, payload binary"
        )
        routed = route_crawl_payloads(df, "payload").withColumn(
            "raw_copy", F.lit(b"\x00")  # never NULL — the wrong answer
        )
        with pytest.raises(ValueError, match="payload_col"):
            route_stats(routed)
        rows = route_stats(routed, payload_col="payload").collect()
        assert sum(r.n_bytes_null for r in rows) == 1


class TestExtractRoutedText:
    def test_three_extractors_converge(self, spark):
        art2 = ART.replace("quick", "swift")
        art3 = ART.replace("quick", "rapid")
        df = spark.createDataFrame(
            [
                (0, _page(ART).encode()),
                (1, encode_pdf_text([art2])),
                (2, gzip.compress(art3.encode())),
            ],
            "id long, payload binary",
        )
        routed = route_crawl_payloads(df, "payload")
        rows = {
            r.id: r for r in extract_routed_text(routed, "payload").collect()
        }
        assert "Home" not in rows[0].text and ART in rows[0].text
        assert rows[1].text == art2
        assert rows[2].text == art3 and rows[2].was_gzip


class TestCharsetSniffing:
    """r12 (VERDICT r11 next #4): BOM + <meta charset> detection
    before the binary→string step — a UTF-16 or latin-1 page must
    round-trip to the SAME text (and therefore the same dedup
    fingerprints) as its UTF-8 spelling, not mojibake."""

    CAFE = ART.replace("quick", "café-naïve")  # non-ASCII payload

    def test_detect_charset_tokens(self, spark):
        from openaq_data_pipeline_spark.operators.text import (
            detect_charset,
        )

        meta_page = (
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=Windows-1252"></head>'
            "<body>x</body></html>"
        )
        rows = [
            (0, "plain ascii".encode()),
            (1, b"\xef\xbb\xbf" + "x".encode()),
            (2, "x".encode("utf-16")),            # FF FE BOM
            (3, b"\xfe\xff" + "x".encode("utf-16-be")),
            (4, meta_page.encode("cp1252")),
            (5, None),
            (6, b"charset=latin-1 in prose"),     # NOT html: no meta
        ]
        df = spark.createDataFrame(rows, "id long, p binary")
        got = {
            r.id: r.cs
            for r in df.select(
                "id", detect_charset(F.col("p")).alias("cs")
            ).collect()
        }
        assert got == {
            0: "utf-8", 1: "utf-8", 2: "utf-16", 3: "utf-16",
            4: "windows-1252", 5: None, 6: "utf-8",
        }
        got_plain = df.where("id = 4").select(
            detect_charset(F.col("p"), html=False).alias("cs")
        ).first().cs
        assert got_plain == "utf-8"  # meta sniffing is html-only

    def test_sniff_mime_sees_bommed_text(self, spark):
        from openaq_data_pipeline_spark.operators.text import sniff_mime

        page = _page(self.CAFE)
        rows = [
            (0, page.encode("utf-16")),            # UTF-16LE+BOM html
            (1, page.encode("utf-16-be")),         # no BOM: undetectable
            (2, codecs_bom_be() + page.encode("utf-16-be")),
            (3, b"\xef\xbb\xbf" + page.encode()),  # UTF-8 BOM html
            (4, b"\xff\xfe" + self.CAFE.encode("utf-16-le")),
            (5, b"\xef\xbb\xbf" + self.CAFE.encode()),
        ]
        df = spark.createDataFrame(rows, "id long, p binary")
        got = {
            r.id: r.m
            for r in df.select(
                "id", sniff_mime(F.col("p")).alias("m")
            ).collect()
        }
        assert got[0] == "text/html"
        assert got[1] == "application/octet-stream"  # documented limit
        assert got[2] == "text/html"
        assert got[3] == "text/html"
        assert got[4] == "text/plain"
        assert got[5] == "text/plain"

    def test_routed_extraction_round_trips_all_spellings(self, spark):
        """The done-criterion: UTF-8 / UTF-8+BOM / UTF-16LE+BOM /
        UTF-16BE+BOM / meta-declared cp1252 spellings of the SAME
        page all extract the identical text, so downstream
        fingerprints are stable across charsets."""
        from openaq_data_pipeline_spark.operators.text import fingerprint

        page = _page(self.CAFE)
        meta_page = page.replace(
            "<html><body>",
            '<html><head><meta charset="windows-1252"></head><body>',
        )
        rows = [
            (0, page.encode()),
            (1, b"\xef\xbb\xbf" + page.encode()),
            (2, page.encode("utf-16")),
            (3, codecs_bom_be() + page.encode("utf-16-be")),
            (4, meta_page.encode("cp1252")),
            (5, b"\xff\xfe" + self.CAFE.encode("utf-16-le")),  # plain
            (6, self.CAFE.encode()),                            # plain
        ]
        df = spark.createDataFrame(rows, "id long, payload binary")
        routed = route_crawl_payloads(df, "payload")
        out = extract_routed_text(routed, "payload")
        got = {
            r.id: (r.text, r.fp)
            for r in out.withColumn(
                "fp", fingerprint(F.col("text"))
            ).collect()
        }
        texts = {i: t for i, (t, _) in got.items()}
        assert texts[0] == self.CAFE  # density kept the article only
        for i in (1, 2, 3, 4):
            assert texts[i] == texts[0], f"spelling {i} diverged"
            assert got[i][1] == got[0][1]  # fingerprint stable
        assert texts[5] == self.CAFE and texts[6] == self.CAFE
        assert got[5][1] == got[6][1]

    def test_lying_meta_degrades_not_fails(self, spark):
        """An unknown/lying charset token falls back to lenient
        UTF-8 — replacement chars possible, stage failure never."""
        page = _page(ART).replace(
            "<html><body>",
            '<html><head><meta charset="no-such-charset-9"></head><body>',
        )
        df = spark.createDataFrame(
            [(0, page.encode())], "id long, payload binary"
        )
        out = extract_routed_text(
            route_crawl_payloads(df, "payload"), "payload"
        ).collect()
        assert len(out) == 1 and ART in out[0].text


def codecs_bom_be() -> bytes:
    return b"\xfe\xff"


class TestLenientMediaDecode:
    def test_corrupt_rows_degrade_to_null(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import (
            audio_features,
            extract_features,
        )

        img = spark.createDataFrame(
            [(0, _png()), (1, b"\x89PNG\r\n\x1a\ngarbage")],
            "media_id long, content binary",
        )
        rows = {
            r.media_id: r
            for r in extract_features(
                img, decode="real", lenient=True
            ).collect()
        }
        assert rows[0].width == 4 and rows[0].height == 4
        assert rows[1].width is None and rows[1].feature is None
        assert rows[1].n_bytes == len(b"\x89PNG\r\n\x1a\ngarbage")
        # strict mode still fails loud (the batch-operator contract)
        with pytest.raises(Exception):
            extract_features(img, decode="real").collect()

        wav = spark.createDataFrame(
            [(0, _wav()), (1, b"RIFF\x00\x00\x00\x00WAVEgarbage")],
            "media_id long, content binary",
        )
        arows = {
            r.media_id: r
            for r in audio_features(wav, lenient=True).collect()
        }
        assert arows[0].sample_rate == 8000
        assert arows[1].sample_rate is None and arows[1].n_bytes > 0

        from openaq_data_pipeline_spark.operators.multimodal import (
            video_features,
        )

        avi = spark.createDataFrame(
            [(0, _avi()), (1, b"RIFF\x00\x00\x00\x00AVI garbage")],
            "media_id long, content binary",
        )
        vrows = {
            r.media_id: r
            for r in video_features(avi, lenient=True).collect()
        }
        assert vrows[0].n_frames == 3 and vrows[0].width == 8
        assert vrows[0].duration_ms == 300
        assert vrows[1].n_frames is None and vrows[1].n_bytes > 0


class TestZipMemberRoute:
    """ZIP container hop (r12): archives explode into routed member
    rows under the same one-hop/bomb-cap posture as gzip — nested
    containers discard, capped or unreadable members keep their name
    with NULL bytes, corrupt archives yield one accountable NULL
    row. Nothing silent."""

    def _zip(self, members: dict[str, bytes]) -> bytes:
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in members.items():
                zf.writestr(name, data)
        return buf.getvalue()

    def test_mixed_archive_members_route_to_their_planes(self, spark):
        import gzip

        from openaq_data_pipeline_spark.operators.router import (
            route_zip_members,
        )

        inner_zip = self._zip({"deep.txt": b"nested text"})
        archive = self._zip(
            {
                "readme.txt": ART.encode(),
                "logo.png": _png(),
                "anim.gif": _gif(),
                "nested.zip": inner_zip,
                "body.gz": gzip.compress(b"gz member"),
            }
        )
        df = spark.createDataFrame(
            [(1, archive)], "doc_id long, payload binary"
        )
        rows = {
            r.member_name: r
            for r in route_zip_members(df, "payload").collect()
        }
        assert set(rows) == {
            "readme.txt", "logo.png", "anim.gif", "nested.zip", "body.gz",
        }
        assert (rows["readme.txt"].mime, rows["readme.txt"].route) == (
            "text/plain", "text",
        )
        assert bytes(rows["readme.txt"].payload) == ART.encode()
        assert (rows["logo.png"].mime, rows["logo.png"].route) == (
            "image/png", "image",
        )
        assert (rows["anim.gif"].mime, rows["anim.gif"].route) == (
            "image/gif", "image",
        )
        # one hop, never a loop: nested containers discard with their
        # bytes intact for observability
        assert (rows["nested.zip"].mime, rows["nested.zip"].route) == (
            "application/zip", "discard",
        )
        assert (rows["body.gz"].mime, rows["body.gz"].route) == (
            "application/gzip", "discard",
        )
        # provenance columns survive the explode
        assert all(r.doc_id == 1 for r in rows.values())
        assert sorted(r.member_index for r in rows.values()) == [
            0, 1, 2, 3, 4,
        ]

    def test_bomb_member_caps_to_null_with_name(self, spark):
        from openaq_data_pipeline_spark.operators.router import (
            route_zip_members,
            unzip_members,
        )

        archive = self._zip(
            {"ok.txt": b"small body", "bomb.bin": b"\x00" * 65536}
        )
        df = spark.createDataFrame(
            [(1, archive)], "doc_id long, payload binary"
        )
        rows = {
            r.member_name: r
            for r in unzip_members(df, "payload", max_bytes=4096).collect()
        }
        assert bytes(rows["ok.txt"].member) == b"small body"
        assert rows["bomb.bin"].member is None  # capped, not OOM'd
        routed = {
            r.member_name: r
            for r in route_zip_members(
                df, "payload", max_bytes=4096
            ).collect()
        }
        # the capped member stays accountable: container mime, discard
        assert (
            routed["bomb.bin"].mime, routed["bomb.bin"].route,
        ) == ("application/zip", "discard")
        assert routed["bomb.bin"].payload is None

    def test_member_count_cap_is_observable(self, spark):
        from openaq_data_pipeline_spark.operators.router import (
            unzip_members,
        )

        archive = self._zip(
            {f"m{i}.txt": f"body {i}".encode() for i in range(5)}
        )
        df = spark.createDataFrame(
            [(1, archive)], "doc_id long, payload binary"
        )
        rows = sorted(
            unzip_members(df, "payload", max_members=2).collect(),
            key=lambda r: r.member_index,
        )
        # every member NAME is present (directory walk is header-
        # only); bytes only for the first max_members
        assert [r.member_name for r in rows] == [
            f"m{i}.txt" for i in range(5)
        ]
        assert [r.member is not None for r in rows] == [
            True, True, False, False, False,
        ]

    def _tar(self, members: dict[str, bytes]) -> bytes:
        import io
        import tarfile

        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for name, data in members.items():
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                tar.addfile(info, io.BytesIO(data))
        return buf.getvalue()

    def test_tar_members_route_like_zip(self, spark):
        """r12: ustar archives (WebDataset's container) take the same
        hop — sniffed at offset 257, members re-sniffed and routed,
        nested containers discarded, caps observable."""
        from openaq_data_pipeline_spark.operators.router import (
            route_container_members,
        )
        from openaq_data_pipeline_spark.operators.text import sniff_mime

        archive = self._tar(
            {
                "essay.txt": ART.encode(),
                "logo.gif": _gif(),
                "inner.tar": self._tar({"deep.txt": b"deep"}),
                "big.bin": b"\x01" * 9000,
            }
        )
        df = spark.createDataFrame(
            [(1, archive)], "doc_id long, payload binary"
        )
        assert df.select(
            sniff_mime(F.col("payload")).alias("m")
        ).first().m == "application/x-tar"
        rows = {
            r.member_name: r
            for r in route_container_members(
                df, "payload", "tar", max_bytes=4096
            ).collect()
        }
        assert (rows["essay.txt"].mime, rows["essay.txt"].route) == (
            "text/plain", "text",
        )
        assert (rows["logo.gif"].mime, rows["logo.gif"].route) == (
            "image/gif", "image",
        )
        assert (rows["inner.tar"].mime, rows["inner.tar"].route) == (
            "application/x-tar", "discard",
        )
        # a tar "bomb" is just a big stored file: read-capped to NULL
        assert rows["big.bin"].payload is None
        assert (rows["big.bin"].mime, rows["big.bin"].route) == (
            "application/x-tar", "discard",
        )

    def test_directory_entries_skipped_and_parent_payload_nulled(
        self, spark
    ):
        """r12 review: zip directory entries are structural (no
        phantom rows, no member-cap consumption), and member rows
        carry NULL in the parent payload slot — the archive bytes
        must not replicate across every member of the Arrow batch."""
        import io
        import zipfile

        from openaq_data_pipeline_spark.operators.router import (
            unzip_members,
        )

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("dir/", b"")
            zf.writestr("dir/a.txt", b"alpha body")
            zf.writestr("sub/", b"")
            zf.writestr("sub/b.txt", b"beta body")
        df = spark.createDataFrame(
            [(1, buf.getvalue())], "doc_id long, payload binary"
        )
        rows = sorted(
            unzip_members(df, "payload", max_members=2).collect(),
            key=lambda r: r.member_index,
        )
        # only FILE entries, and both fit under max_members=2
        assert [r.member_name for r in rows] == [
            "dir/a.txt", "sub/b.txt",
        ]
        assert [bytes(r.member) for r in rows] == [
            b"alpha body", b"beta body",
        ]
        assert all(r.payload is None for r in rows)

    def test_corrupt_and_empty_archives_yield_one_null_row(self, spark):
        from openaq_data_pipeline_spark.operators.router import (
            unzip_members,
        )

        df = spark.createDataFrame(
            [
                (1, b"PK\x03\x04 not a real archive"),
                (2, self._zip({})),
                (3, None),
            ],
            "doc_id long, payload binary",
        )
        rows = {r.doc_id: r for r in unzip_members(df, "payload").collect()}
        assert set(rows) == {1, 2, 3}
        for r in rows.values():
            assert r.member_index is None
            assert r.member_name is None and r.member is None


class TestMixedWarcFrontDoor:
    """VERDICT r10 next #3 done-criterion: ONE WARC carries all five
    payload classes and each lands in the right plane."""

    def _warc_record(self, rid: int, uri: str, payload: bytes) -> bytes:
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html\r\n"  # the header LIES for 4/5
            b"\r\n" + payload
        )
        h = [
            b"WARC/1.0",
            b"WARC-Type: response",
            b"WARC-Record-ID: <urn:uuid:rec-" + str(rid).encode() + b">",
            b"WARC-Target-URI: " + uri.encode(),
            b"WARC-Date: 2026-08-15T00:00:00Z",
            b"Content-Type: application/http;msgtype=response",
            b"Content-Length: " + str(len(http)).encode(),
        ]
        return b"\r\n".join(h) + b"\r\n\r\n" + http + b"\r\n\r\n"

    def test_one_archive_five_planes(self, spark, tmp_path):
        from openaq_data_pipeline_spark.sources.warc import read_warc

        art2 = ART.replace("quick", "swift")
        payloads = [
            ("https://a.org/page", _page(ART).encode()),
            ("https://a.org/doc.pdf", encode_pdf_text([art2])),
            ("https://a.org/img", _png()),
            ("https://a.org/anim.gif", _gif()),
            ("https://a.org/clip", _wav()),
            ("https://a.org/movie", _avi()),
            ("https://a.org/movie.mp4", _mp4()),
            ("https://a.org/blob", bytes(range(16)) * 4),
        ]
        archive = b"".join(
            self._warc_record(i, uri, p)
            for i, (uri, p) in enumerate(payloads)
        )
        (tmp_path / "mixed.warc").write_bytes(archive)

        pages = (
            read_warc(spark, str(tmp_path / "mixed.warc"))
            .where("warc_type = 'response' AND http_status = 200")
            .selectExpr("target_uri AS url", "payload")
        )
        routed = route_crawl_payloads(pages, "payload").localCheckpoint(
            eager=True
        )
        planes = crawl_route_planes(routed, "payload", "url")

        texts = {r.url: r.text for r in planes["text"].collect()}
        assert set(texts) == {"https://a.org/page", "https://a.org/doc.pdf"}
        assert ART in texts["https://a.org/page"]
        assert "Home" not in texts["https://a.org/page"]  # density ran
        assert texts["https://a.org/doc.pdf"] == art2

        img = {r.url: r for r in planes["image"].collect()}
        assert set(img) == {"https://a.org/img", "https://a.org/anim.gif"}
        png_r = img["https://a.org/img"]
        assert png_r.width == 4 and png_r.px_sum is not None
        gif_r = img["https://a.org/anim.gif"]
        # 3x2 two-color GIF: per-pixel sum is closed-form
        assert (gif_r.width, gif_r.height) == (3, 2)
        assert gif_r.px_sum == 3 * (10 + 20 + 30) + 3 * (200 + 210 + 220)

        aud = planes["audio"].collect()
        assert [r.url for r in aud] == ["https://a.org/clip"]
        assert aud[0].sample_rate == 8000

        vid = {r.url: r for r in planes["video"].collect()}
        assert set(vid) == {
            "https://a.org/movie", "https://a.org/movie.mp4",
        }
        avi_r = vid["https://a.org/movie"]
        assert avi_r.n_frames == 3 and avi_r.duration_ms == 300
        mp4_r = vid["https://a.org/movie.mp4"]
        assert (mp4_r.n_frames, mp4_r.width, mp4_r.height) == (5, 32, 16)
        assert mp4_r.duration_ms == 500

        disc = planes["discard"].collect()
        assert [(r.url, r.mime) for r in disc] == [
            ("https://a.org/blob", "application/octet-stream")
        ]


class TestZipIntakeComposition:
    """crawl_intake_gate with container_members (r12): archive members
    join the SAME funnel as first-class pages — member text passes
    the Gopher/exact gates under replay-stable synthetic ids, member
    media lands under zip_<plane>, and a member whose text dups
    crawl history drops like any page."""

    def _zip(self, members: dict[str, bytes]) -> bytes:
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in members.items():
                zf.writestr(name, data)
        return buf.getvalue()

    def test_members_join_funnel_and_dedup_across_batches(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        import io
        import tarfile

        art2 = ART.replace("quick", "swift")
        art3 = ART.replace("quick", "hasty")
        schema = "page_id long, url string, payload binary"
        out = str(tmp_path / "survivors")
        media = str(tmp_path / "media")
        archive = self._zip(
            {"essay.txt": ART.encode(), "logo.gif": _gif()}
        )
        tbuf = io.BytesIO()
        with tarfile.open(fileobj=tbuf, mode="w") as tar:
            info = tarfile.TarInfo(name="piece.txt")
            info.size = len(art3.encode())
            tar.addfile(info, io.BytesIO(art3.encode()))
        batch0 = spark.createDataFrame(
            [
                (1, "https://a.org/bundle.zip", archive),
                (2, "https://a.org/page", _page(art2).encode()),
                (4, "https://a.org/shard.tar", tbuf.getvalue()),
            ],
            schema,
        )
        # batch 1 re-ships the SAME essay as a plain page: the member
        # indexed in batch 0 must kill it through content history
        batch1 = spark.createDataFrame(
            [(3, "https://b.org/copy", ART.encode())], schema
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", media_features_path=media,
                container_members=True,
            )
            gate(batch0, 0)
            gate(batch1, 1)
        surv = {r.url: r for r in spark.read.parquet(out).collect()}
        # zip AND tar member text survived under their archives' URLs
        # with synthetic ids distinct from the page ids
        assert set(surv) == {
            "https://a.org/bundle.zip", "https://a.org/page",
            "https://a.org/shard.tar",
        }
        member_row = surv["https://a.org/bundle.zip"]
        assert ART in member_row.text
        assert member_row.page_id not in (1, 2, 3, 4)
        assert art3 in surv["https://a.org/shard.tar"].text
        # media member landed in the zip image plane (feature rows
        # keyed by the synthetic member id), decoded through the GIF
        # path
        zimg = spark.read.parquet(f"{media}/zip_image").collect()
        assert len(zimg) == 1 and zimg[0].width == 3
        assert zimg[0].page_id not in (1, 2, 3)
        # the archive row itself is accounted in the main discard
        disc = spark.read.parquet(f"{media}/discard").collect()
        assert (1, "application/zip") in {
            (r.page_id, r.mime) for r in disc
        }

    def test_member_ids_are_replay_stable(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        schema = "page_id long, url string, payload binary"
        out = str(tmp_path / "survivors")
        archive = self._zip({"essay.txt": ART.encode()})
        batch = spark.createDataFrame(
            [(1, "https://a.org/bundle.zip", archive)], schema
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", container_members=True,
            )
            gate(batch, 0)
            first = {
                r.page_id for r in spark.read.parquet(out).collect()
            }
            gate(batch, 0)  # at-least-once replay
            second = {
                r.page_id for r in spark.read.parquet(out).collect()
            }
        # xxhash64(parent, 'zip_member', index) re-derives the same
        # id on replay — disposition and sink stay stable
        assert first == second and len(first) == 1


class TestLineGateIntakeComposition:
    """crawl_intake_gate with line_index (r12): extracted text is
    boilerplate-stripped against the persisted cross-batch line
    counts BEFORE the gates, so pages identical modulo a shared
    footer dedup as identical — the composition neither the line
    filter nor the exact gate can achieve alone."""

    FOOTER = "COPYRIGHT FOOTER NAVIGATION LINKS"

    def test_footer_variants_dedup_across_batches(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.dedup import (
            temp_line_index,
        )
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        fresh2 = ART.replace("quick", "swift")
        fresh3 = ART.replace("quick", "hasty")
        schema = "page_id long, url string, payload binary"
        out = str(tmp_path / "survivors")
        batch0 = spark.createDataFrame(
            [
                (1, "https://a.org/p1", f"{ART}\n{self.FOOTER}".encode()),
                (2, "https://a.org/p2", f"{fresh2}\n{self.FOOTER}".encode()),
            ],
            schema,
        )
        # page 3 is page 1's body under a DIFFERENT url with the same
        # footer: after the line gate cleans both, the exact content
        # gate sees identical text and drops it cross-batch
        batch1 = spark.createDataFrame(
            [
                (3, "https://b.org/copy", f"{ART}\n{self.FOOTER}".encode()),
                (4, "https://b.org/new", f"{fresh3}\n{self.FOOTER}".encode()),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist, temp_line_index(min_docs=2) as lidx:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", line_index=lidx,
            )
            gate(batch0, 0)
            gate(batch1, 1)
            surv = {
                r.page_id: r for r in spark.read.parquet(out).collect()
            }
            # 3 deduped against 1 THROUGH the cleaning; the footer —
            # which crossed min_docs within batch 0 — is stripped
            # from every survivor
            assert set(surv) == {1, 2, 4}
            for r in surv.values():
                assert self.FOOTER not in r.text
            assert surv[1].text == ART
            assert surv[4].text == fresh3
            assert surv[1].n_lines_dropped == 1


class TestIntraDocIntakeComposition:
    """crawl_intake_gate with intradoc_line_dedup (r14, VERDICT r13
    wrong #2): a page's OWN repeated nav block is stripped before
    the fingerprint gates, so it dedups identically to its clean
    twin — neither the cross-batch line gate (the nav is unique to
    one page) nor the exact gate (the raw bytes differ) can see it."""

    NAV = "NAVIGATION HOME ABOUT CONTACT SITEMAP BAR"

    def test_nav_repeater_dedups_to_clean_twin(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        words = ART.split()
        half = len(words) // 2
        l1, l2 = " ".join(words[:half]), " ".join(words[half:])
        # the repeater: its own nav block appears three times —
        # no OTHER page shares it, so min_docs line counting is blind
        repeater = f"{self.NAV}\n{l1}\n{self.NAV}\n{l2}\n{self.NAV}"
        twin = f"{self.NAV}\n{l1}\n{l2}"  # = repeater after stripping
        fresh = twin.replace("quick", "hasty")
        schema = "page_id long, url string, payload binary"
        out = str(tmp_path / "survivors")
        batch0 = spark.createDataFrame(
            [(1, "https://a.org/messy", repeater.encode())], schema
        )
        batch1 = spark.createDataFrame(
            [
                (3, "https://b.org/clean-twin", twin.encode()),
                (4, "https://b.org/new", fresh.encode()),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", intradoc_line_dedup=True,
            )
            gate(batch0, 0)
            gate(batch1, 1)
            surv = {
                r.page_id: r for r in spark.read.parquet(out).collect()
            }
            # 3 dedups against 1 THROUGH the intra-doc strip: the
            # exact gate sees identical text for the repeater and
            # its clean twin
            assert set(surv) == {1, 4}
            assert surv[1].text == twin
            assert surv[1].intradoc_lines_dropped == 2
            assert surv[4].intradoc_lines_dropped == 0


class TestRoutedStreamingIntake:
    """stream_crawl_intake in payload mode: the mixed-modality feed
    MIME-routes per micro-batch, text planes converge on the shared
    gates, media features land under media_features_path."""

    def test_routed_stream(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            stream_crawl_intake,
        )

        art2 = ART.replace("quick", "swift")
        art3 = ART.replace("quick", "rapid")
        schema = "page_id long, url string, payload binary"
        rows = [
            (1, "https://a.org/page", _page(ART).encode()),
            (2, "https://a.org/doc.pdf", encode_pdf_text([art2])),
            (3, "https://a.org/notes.txt", gzip.compress(art3.encode())),
            (4, "https://a.org/img", _png()),
            (5, "https://a.org/clip", _wav()),
            (6, "https://a.org/blob", bytes(range(16)) * 4),
            (7, "https://a.org/tiny", _page("tiny").encode()),  # gopher
            (8, "https://a.org/movie", _avi()),
        ]
        src = str(tmp_path / "incoming")
        out = str(tmp_path / "survivors")
        media = str(tmp_path / "media")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            q = stream_crawl_intake(
                stream, "url", None, "page_id", ledger, hist, out,
                str(tmp_path / "ckpt"), payload_col="payload",
                media_features_path=media,
            )
            q.awaitTermination(180)
        surv = {r.page_id: r for r in spark.read.parquet(out).collect()}
        # all three text CONTAINERS converge on the same funnel;
        # gopher drops the tiny page, media/junk never reach the gates
        assert set(surv) == {1, 2, 3}
        assert ART in surv[1].text and "Home" not in surv[1].text
        assert surv[2].text == art2 and surv[2].mime == "application/pdf"
        assert surv[3].text == art3 and surv[3].was_gzip
        img = spark.read.parquet(f"{media}/image").collect()
        assert [r.page_id for r in img] == [4] and img[0].width == 4
        aud = spark.read.parquet(f"{media}/audio").collect()
        assert [r.page_id for r in aud] == [5]
        assert aud[0].sample_rate == 8000
        vid = spark.read.parquet(f"{media}/video").collect()
        assert [r.page_id for r in vid] == [8]
        assert vid[0].n_frames == 3
        # nothing silently dropped: the junk payload is in the
        # discard audit, and route_stats accounts for every payload
        disc = spark.read.parquet(f"{media}/discard").collect()
        assert [(r.page_id, r.mime) for r in disc] == [
            (6, "application/octet-stream")
        ]
        stats = spark.read.parquet(f"{media}/route_stats").collect()
        assert sum(r.n_payloads for r in stats) == len(rows)
        by_route = {}
        for r in stats:
            by_route[r.route] = by_route.get(r.route, 0) + r.n_payloads
        assert by_route == {
            "text": 4, "image": 1, "audio": 1, "video": 1, "discard": 1,
        }


class TestContentEncodingHop:
    """VERDICT r12 next #2: the decompression hop handles HTTP
    Content-Encoding gzip AND deflate (both zlib-wrapped and raw
    framing), driven by an explicit hint column. r14 (VERDICT r13
    missing #1): br and zstd decode through the gated system-library
    bindings; a corrupt claimed-br body fails its hop into an
    OBSERVABLE discard. r15: 'compress' gained a decoder (the
    engine's own gzip-validated .Z LZW codec), so a claimed-compress
    body now takes the hop like any decodable token — row 8's claim
    is a LIE (plain bytes), so its hop fails observably; truly
    undecodable registered tokens ('exi') still never hop."""

    def _feed(self, spark):
        import zlib as _z

        from openaq_data_pipeline_spark.operators.compress_native import (
            brotli_compress,
            zstd_compress,
        )

        body = _page(ART).encode()
        rows = [
            (0, body, None),                                 # identity
            (1, gzip.compress(body), "gzip"),                # gzip
            (2, _z.compress(body), "deflate"),               # zlib-wrapped
            (3, _z.compressobj(wbits=-15).compress(body)
                + _z.compressobj(wbits=-15).flush(), None),  # placeholder
            (4, b"\x8b\x1f junk that is no encoding", "br"), # corrupt br
            (5, body, "identity"),                           # explicit identity
            (6, brotli_compress(body), "br"),                # real brotli
            (7, zstd_compress(body), "zstd"),                # real zstd
            (8, body, "compress"),                           # lying claim
            (9, body, "exi"),                                # no decoder
        ]
        # raw deflate needs one compressobj (flush pairs with it)
        co = _z.compressobj(wbits=-15)
        raw = co.compress(body) + co.flush()
        rows[3] = (3, raw, "deflate")
        return spark.createDataFrame(
            rows, "id long, payload binary, content_encoding string"
        )

    def test_all_five_encodings_reach_the_text_plane(self, spark):
        df = self._feed(spark)
        routed = route_crawl_payloads(
            df, "payload", encoding_col="content_encoding"
        )
        rows = {r.id: r for r in routed.collect()}
        for i in (0, 1, 2, 3, 5, 6, 7):
            assert (rows[i].mime, rows[i].route) == ("text/html", "text"), i
        assert [rows[i].was_gzip for i in (0, 1, 2, 3, 5, 6, 7)] == [
            False, True, True, True, False, True, True,
        ]
        # corrupt claimed-br: the hop is attempted and fails —
        # discard with the hint intact (the attempt is the audit)
        assert rows[4].route == "discard"
        assert rows[4].content_encoding == "br"
        assert rows[4].was_gzip
        # lying 'compress' claim: the hop is attempted (the token is
        # decodable since r15) and fails observably
        assert rows[8].route == "discard"
        assert rows[8].was_gzip and rows[8].payload is None
        # no decoder for 'exi': never hops, bytes untouched
        assert rows[9].route == "discard"
        assert not rows[9].was_gzip
        assert rows[9].payload is not None
        # and the text plane extracts IDENTICAL text from all seven
        texts = {
            r.id: r.text
            for r in extract_routed_text(
                routed.where(F.col("route") == "text"), "payload",
                out_col="text",
            ).select("id", "text").collect()
        }
        assert len(set(texts.values())) == 1 and ART in texts[0]

    def test_route_stats_shows_zero_silent_discards(self, spark):
        """Every row is accounted: decodable encodings all land in
        the text plane with zero NULL payloads; the corrupt-br and
        undecodable-token rows are the only discards, each grouped
        under its own hint."""
        df = self._feed(spark)
        routed = route_crawl_payloads(
            df, "payload", encoding_col="content_encoding"
        )
        stats = {
            (r.route, r.content_encoding): (r.n_payloads, r.n_bytes_null)
            for r in routed.groupBy("route", "content_encoding")
            .agg(
                F.count(F.lit(1)).alias("n_payloads"),
                F.sum(
                    F.when(F.col("payload").isNull(), 1).otherwise(0)
                ).alias("n_bytes_null"),
            )
            .collect()
        }
        assert stats[("text", None)] == (1, 0)
        assert stats[("text", "gzip")] == (1, 0)
        assert stats[("text", "deflate")] == (2, 0)
        assert stats[("text", "identity")] == (1, 0)
        assert stats[("text", "br")] == (1, 0)
        assert stats[("text", "zstd")] == (1, 0)
        # corrupt br: the failed hop nulls the payload (the gzip-bomb
        # contract); the never-hopped token keeps its bytes
        assert stats[("discard", "br")] == (1, 1)
        assert stats[("discard", "compress")] == (1, 1)
        assert stats[("discard", "exi")] == (1, 0)
        assert sum(n for n, _ in stats.values()) == 10

    def test_hintless_behavior_unchanged_and_bomb_capped(self, spark):
        """No encoding_col → magic-sniff path only: gzip hops, raw
        deflate (no magic) discards exactly as before r13; the cap
        still bounds deflate output."""
        import zlib as _z

        body = _page(ART).encode()
        co = _z.compressobj(wbits=-15)
        raw = co.compress(body) + co.flush()
        df = spark.createDataFrame(
            [(0, gzip.compress(body)), (1, raw)],
            "id long, payload binary",
        )
        rows = {
            r.id: r for r in route_crawl_payloads(df, "payload").collect()
        }
        assert rows[0].route == "text" and rows[0].was_gzip
        assert rows[1].route == "discard" and not rows[1].was_gzip
        # deflate bomb: 100 KB of zeros under a 1 KiB cap → NULL, discard
        co = _z.compressobj(wbits=-15)
        bomb = co.compress(bytes(100_000)) + co.flush()
        bdf = spark.createDataFrame(
            [(0, bomb, "deflate")],
            "id long, payload binary, content_encoding string",
        )
        brow = route_crawl_payloads(
            bdf, "payload", encoding_col="content_encoding",
            max_gunzip_bytes=1024,
        ).first()
        assert brow.route == "discard" and brow.payload is None
        assert brow.mime == "application/octet-stream"


class TestWebPImagePlane:
    """r13 (VERDICT r12 missing #2): WebP payloads sniff, route to
    the image plane and surface header dims there — the plane stops
    dropping the most common web image type it cannot rasterize."""

    def test_webp_routes_to_image_with_dims(self, spark):
        from openaq_data_pipeline_spark.operators.multimodal import (
            encode_webp_header,
            extract_features,
        )

        df = spark.createDataFrame(
            [
                (0, encode_webp_header(320, 240, kind="VP8 ")),
                (1, encode_webp_header(64, 32, kind="VP8L", alpha=True)),
                (2, encode_webp_header(800, 600, kind="VP8X",
                                       animated=True)),
                (3, encode_png(np.zeros((4, 4, 3), dtype=np.uint8))),
            ],
            "id long, payload binary",
        )
        routed = route_crawl_payloads(df, "payload")
        rows = {r.id: r for r in routed.collect()}
        for i in (0, 1, 2):
            assert (rows[i].mime, rows[i].route) == ("image/webp", "image")
        assert rows[3].route == "image"
        # the SAME lenient image pass that decodes PNG pixels yields
        # header dims for WebP (pixel stats NULL — no decoder)
        feats = {
            r.id: r
            for r in extract_features(
                routed.where("route = 'image'"), "payload", id_col="id",
                decode="real", lenient=True,
            ).collect()
        }
        assert (feats[0].width, feats[0].height) == (320, 240)
        assert (feats[1].width, feats[1].height) == (64, 32)
        assert (feats[2].width, feats[2].height) == (800, 600)
        assert feats[0].px_sum is None and feats[0].feature is None
        assert feats[3].px_sum is not None  # PNG still fully decodes


class TestRecrawlFrontierLoop:
    """r13 (VERDICT r12 next #7): the sitemap→ledger→frontier loop
    runs per micro-batch inside crawl_intake_gate — discovered URLs
    are judged against the timestamped crawl log and the politeness
    schedule lands per batch, replay-stable."""

    @staticmethod
    def _sitemap(entries):
        body = "".join(
            f"<url><loc>{u}</loc>"
            + (f"<lastmod>{lm}</lastmod>" if lm else "")
            + "</url>"
            for u, lm in entries
        )
        return f'<?xml version="1.0"?><urlset>{body}</urlset>'.encode()

    def test_lastmod_bump_reschedules_ahead_of_fresh(
        self, spark, tmp_path
    ):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        schema = "page_id long, url string, payload binary, fetched_at string"
        out = str(tmp_path / "survivors")
        froot = str(tmp_path / "frontier")
        A, B, C = (f"https://h1.org/{p}" for p in ("a", "b", "c"))
        t0 = "2026-01-15 10:00:00"
        batch0 = spark.createDataFrame(
            [
                (1, A, _page(ART).encode(), t0),
                (2, B, _page(ART.replace("quick", "calm")).encode(), t0),
                (3, "https://h1.org/sitemap.xml",
                 self._sitemap([(A, None), (B, None)]), t0),
            ],
            schema,
        )
        # re-fetched sitemap: A's lastmod bumped PAST the crawl, B's
        # sits before it, C is new
        batch1 = spark.createDataFrame(
            [
                (4, "https://h1.org/sitemap.xml",
                 self._sitemap([
                     (A, "2026-02-01"), (B, "2026-01-01"), (C, None),
                 ]),
                 "2026-02-02 00:00:00"),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload",
                frontier_path=froot, fetch_ts_col="fetched_at",
            )
            gate(batch0, 0)
            sched0 = {
                r.url: r
                for r in spark.read.parquet(f"{froot}/schedule")
                .where("batch_id = 0").collect()
            }
            # empty history: both discovered URLs are 'new'
            assert {r.status for r in sched0.values()} == {"new"}
            gate(batch1, 1)

            def read_sched1():
                return {
                    r.url: r
                    for r in spark.read.parquet(f"{froot}/schedule")
                    .where("batch_id = 1").collect()
                }

            s1 = read_sched1()
            assert (s1[A].status, s1[B].status, s1[C].status) == (
                "changed", "fresh", "new",
            )
            # within the host's own slots: new < changed < fresh —
            # the lastmod bump put A ahead of the fresh B
            assert s1[C].pos_in_host < s1[A].pos_in_host < s1[B].pos_in_host
            assert s1[C].fetch_slot < s1[A].fetch_slot < s1[B].fetch_slot
            # REPLAY: the batch's own first-attempt log rows are not
            # history — the retry schedules identically
            gate(batch1, 1)
            s1r = read_sched1()
            assert {
                (u, r.status, r.pos_in_host) for u, r in s1.items()
            } == {(u, r.status, r.pos_in_host) for u, r in s1r.items()}
            # the crawl log accumulated each batch exactly once
            log = spark.read.parquet(f"{froot}/crawl_log")
            assert log.count() == 4


    def test_robots_sitemap_directive_seeds_the_frontier(
        self, spark, tmp_path
    ):
        """r14: a robots.txt riding the batch contributes its
        Sitemap: directive as a NULL-lastmod candidate — the
        never-fetched sitemap URL schedules as 'new' through the
        same judgment as page URLs, replay-stable."""
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        robots = (
            "User-agent: *\nDisallow: /private/\n"
            "Sitemap: https://h1.org/sitemap-products.xml\n"
        ).encode()
        schema = "page_id long, url string, payload binary, fetched_at string"
        out = str(tmp_path / "survivors")
        froot = str(tmp_path / "frontier")
        t0 = "2026-01-15 10:00:00"
        batch = spark.createDataFrame(
            [
                (1, "https://h1.org/robots.txt", robots, t0),
                (2, "https://h1.org/page", _page(ART).encode(), t0),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload",
                frontier_path=froot, fetch_ts_col="fetched_at",
            )
            gate(batch, 0)

            def sched():
                return {
                    r.url: r
                    for r in spark.read.parquet(f"{froot}/schedule")
                    .where("batch_id = 0").collect()
                }

            s = sched()
            assert set(s) == {"https://h1.org/sitemap-products.xml"}
            assert s["https://h1.org/sitemap-products.xml"].status == "new"
            gate(batch, 0)  # replay: identical schedule
            s2 = sched()
            assert {(u, r.status, r.fetch_slot) for u, r in s.items()} == {
                (u, r.status, r.fetch_slot) for u, r in s2.items()
            }

    def test_conditional_fetch_hints_reach_the_schedule(
        self, spark, tmp_path
    ):
        """r14 (VERDICT r13 next #6): etag/last_modified validators
        ride the crawl ledger and the MOST RECENT crawl's values
        surface on every scheduled row — If-None-Match /
        If-Modified-Since hints for the ops-plane fetcher; never-
        crawled URLs carry NULLs."""
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        schema = (
            "page_id long, url string, payload binary, "
            "fetched_at string, resp_etag string, resp_lm string"
        )
        out = str(tmp_path / "survivors")
        froot = str(tmp_path / "frontier")
        A, C = "https://h1.org/a", "https://h1.org/c"
        smap = self._sitemap([(A, "2026-03-01"), (C, None)])
        batch0 = spark.createDataFrame(
            [
                (1, A, _page(ART).encode(), "2026-01-15 10:00:00",
                 '"v1"', "Mon, 12 Jan 2026 00:00:00 GMT"),
            ],
            schema,
        )
        batch1 = spark.createDataFrame(
            [
                (2, A, _page(ART).encode(), "2026-02-15 10:00:00",
                 '"v2"', "Sun, 08 Feb 2026 00:00:00 GMT"),
                (3, "https://h1.org/sitemap.xml", smap,
                 "2026-02-15 10:00:01", None, None),
            ],
            schema,
        )
        batch2 = spark.createDataFrame(
            [
                (4, "https://h1.org/sitemap.xml", smap,
                 "2026-03-02 00:00:00", None, None),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload",
                frontier_path=froot, fetch_ts_col="fetched_at",
                etag_col="resp_etag", last_modified_col="resp_lm",
            )
            gate(batch0, 0)
            gate(batch1, 1)
            s1 = {
                r.url: r
                for r in spark.read.parquet(f"{froot}/schedule")
                .where("batch_id = 1").collect()
            }
            # batch 1 excludes its own log rows: A's hint is v1
            assert s1[A].etag == '"v1"'
            assert s1[A].last_modified == "Mon, 12 Jan 2026 00:00:00 GMT"
            assert s1[C].etag is None and s1[C].last_modified is None
            gate(batch2, 2)
            s2 = {
                r.url: r
                for r in spark.read.parquet(f"{froot}/schedule")
                .where("batch_id = 2").collect()
            }
            # the MOST RECENT crawl's validators win
            assert s2[A].etag == '"v2"'
            assert s2[A].last_modified == "Sun, 08 Feb 2026 00:00:00 GMT"
            assert s2[A].status == "changed"  # lastmod 03-01 > crawl 02-15


class TestEncodedIntakeComposition:
    """crawl_intake_gate(encoding_col=) (r13): Content-Encoding hints
    ride the streaming front door — deflate bodies join the text
    funnel, undecodable tokens land as labeled discard rows in the
    route-stats audit, nothing silent."""

    def test_hinted_bodies_through_the_gate(self, spark, tmp_path):
        import zlib as _z

        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        body1 = _page(ART).encode()
        body2 = _page(ART.replace("quick", "brisk")).encode()
        co = _z.compressobj(wbits=-15)
        raw_deflate = co.compress(body2) + co.flush()
        schema = (
            "page_id long, url string, payload binary, "
            "http_content_encoding string"
        )
        out = str(tmp_path / "surv")
        media = str(tmp_path / "media")
        batch = spark.createDataFrame(
            [
                (1, "https://a.org/gz", gzip.compress(body1), "gzip"),
                (2, "https://a.org/rd", raw_deflate, "deflate"),
                (3, "https://a.org/br", b"\x00\x01 junk", "br"),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", media_features_path=media,
                encoding_col="http_content_encoding",
            )
            gate(batch, 0)
            surv = {r.page_id for r in spark.read.parquet(out).collect()}
            assert surv == {1, 2}  # both compressed bodies extracted
            stats = {
                (r.route, r.http_content_encoding): r.n_payloads
                for r in spark.read.parquet(
                    f"{media}/route_stats"
                ).collect()
            }
            # the br row is a LABELED discard, not a silent drop
            assert stats[("discard", "br")] == 1
            assert stats[("text", "gzip")] == 1
            assert stats[("text", "deflate")] == 1


class TestRecrawlLoopGzipAndDelays:
    """r13 follow-through: a gzipped sitemap feeds the per-batch
    recrawl loop (one bomb-capped hop pre-detection) and declared
    crawl delays surface as the schedule's not_before_sec."""

    def test_gz_sitemap_and_politeness_time(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        xml = (
            '<?xml version="1.0"?><urlset>'
            "<url><loc>https://h9.org/a</loc></url>"
            "<url><loc>https://h9.org/b</loc></url>"
            "<url><loc>https://h9.org/c</loc></url>"
            "</urlset>"
        )
        delays = spark.createDataFrame(
            [("h9.org", 7.0)], "host string, crawl_delay_sec double"
        )
        batch = spark.createDataFrame(
            [(1, "https://h9.org/sitemap.xml.gz",
              gzip.compress(xml.encode()), "2026-03-01 00:00:00")],
            "page_id long, url string, payload binary, fetched_at string",
        )
        out = str(tmp_path / "surv")
        froot = str(tmp_path / "frontier")
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload",
                frontier_path=froot, fetch_ts_col="fetched_at",
                frontier_crawl_delays=delays,
            )
            gate(batch, 0)
            sched = sorted(
                spark.read.parquet(f"{froot}/schedule").collect(),
                key=lambda r: r.pos_in_host,
            )
            assert [r.url for r in sched] == [
                # 3 discovered urls, all 'new', MD5-ordered
                r.url for r in sched
            ] and len(sched) == 3
            assert {r.status for r in sched} == {"new"}
            # declared 7s delay: pos k may not fetch before 7k
            assert [r.not_before_sec for r in sched] == [0.0, 7.0, 14.0]


class TestLineGateOversizedGuard:
    """The LineIndex-carried max_lines_per_doc reaches the streaming
    crawl gate with no extra plumbing: a pathological page routes
    through the line stage untouched (flagged) while normal pages
    still strip shared boilerplate."""

    def test_monster_page_untouched_in_stream(self, spark, tmp_path):
        from openaq_data_pipeline_spark.operators.dedup import (
            temp_line_index,
        )
        from openaq_data_pipeline_spark.operators.incremental_dedup import (
            temp_exact_index,
        )
        from openaq_data_pipeline_spark.streaming.ingest import (
            crawl_intake_gate,
        )

        footer = "SHARED FOOTER NAVIGATION BLOCK"
        monster = "\n".join(
            [ART.replace("quick", f"w{i}") for i in range(30)]
        )
        schema = "page_id long, url string, payload binary"
        out = str(tmp_path / "surv")
        batch = spark.createDataFrame(
            [
                (1, "https://a.org/p1", f"{ART}\n{footer}".encode()),
                (2, "https://a.org/p2",
                 f"{ART.replace('quick', 'calm')}\n{footer}".encode()),
                (3, "https://a.org/monster", monster.encode()),
            ],
            schema,
        )
        with temp_exact_index(n_buckets=4) as ledger, temp_exact_index(
            n_buckets=4
        ) as hist, temp_line_index(
            min_docs=2, max_lines_per_doc=10
        ) as lidx:
            gate = crawl_intake_gate(
                "url", None, "page_id", ledger, hist, out,
                payload_col="payload", line_index=lidx,
            )
            gate(batch, 0)
            surv = {
                r.page_id: r for r in spark.read.parquet(out).collect()
            }
            assert set(surv) == {1, 2, 3}
            # normal pages: footer (>= min_docs within the batch)
            # stripped; the monster page passes through flagged
            assert footer not in surv[1].text
            assert surv[3].line_filter_skipped
            assert surv[3].n_lines_dropped == 0


class TestCompressNativeBindings:
    """The gated brotli/zstd bindings (r14): capped one-shot decode
    semantics — the cap is enforced by the LIBRARY (too-small output
    buffer is an error), corrupt streams and declared bombs yield
    None, and encode/decode round-trip through the system
    libraries."""

    def test_roundtrip_and_caps(self):
        from openaq_data_pipeline_spark.operators.compress_native import (
            brotli_available,
            brotli_compress,
            brotli_decompress_capped,
            zstd_available,
            zstd_compress,
            zstd_decompress_capped,
        )

        assert brotli_available() and zstd_available(), (
            "system libbrotlidec/libzstd must load in this environment"
        )
        data = b"the quick brown fox jumps over the lazy dog " * 300
        bb, zz = brotli_compress(data), zstd_compress(data)
        assert len(bb) < len(data) and len(zz) < len(data)
        assert brotli_decompress_capped(bb, 1 << 26) == data
        assert zstd_decompress_capped(zz, 1 << 26) == data
        # Arrow hands bytearray: coerced, not crashed (the r14 hop bug)
        assert brotli_decompress_capped(bytearray(bb), 1 << 26) == data
        assert zstd_decompress_capped(bytearray(zz), 1 << 26) == data
        # cap enforcement: output larger than the cap fails
        assert brotli_decompress_capped(bb, 100) is None
        assert zstd_decompress_capped(zz, 100) is None
        # 10 MiB-of-zeros bomb under a 1 MiB cap: refused, no OOM
        bomb_b = brotli_compress(b"\0" * (10 << 20))
        bomb_z = zstd_compress(b"\0" * (10 << 20))
        assert brotli_decompress_capped(bomb_b, 1 << 20) is None
        assert zstd_decompress_capped(bomb_z, 1 << 20) is None
        # corrupt streams
        assert brotli_decompress_capped(b"junk" * 4, 1 << 20) is None
        assert zstd_decompress_capped(b"junk" * 4, 1 << 20) is None

    def test_zstd_unknown_size_streams(self):
        """ADVICE r14: frames that do NOT declare their content size
        (the streaming-compressor shape real proxies emit) take
        ZSTD_decompressStream with 64 KiB windows — round-trip,
        mid-stream cap refusal, truncation, and a µs-fast corrupt
        path, never a cap-sized retry buffer."""
        import ctypes

        from openaq_data_pipeline_spark.operators.compress_native import (
            _ZstdInBuffer,
            _ZstdOutBuffer,
            zstd_decompress_capped,
        )

        lib = ctypes.CDLL("libzstd.so.1")
        lib.ZSTD_createCStream.restype = ctypes.c_void_p
        lib.ZSTD_compressStream2.restype = ctypes.c_size_t
        lib.ZSTD_compressStream2.argtypes = [
            ctypes.c_void_p,
            ctypes.POINTER(_ZstdOutBuffer),
            ctypes.POINTER(_ZstdInBuffer),
            ctypes.c_int,
        ]
        lib.ZSTD_getFrameContentSize.restype = ctypes.c_ulonglong
        lib.ZSTD_getFrameContentSize.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
        ]
        cs = lib.ZSTD_createCStream()
        data = b"hello unknown-size world " * 30000  # > several windows
        half = len(data) // 2
        cap = len(data) + 8192
        ob = ctypes.create_string_buffer(cap)
        dst = _ZstdOutBuffer(ctypes.addressof(ob), cap, 0)
        b1 = ctypes.create_string_buffer(data[:half], half)
        src1 = _ZstdInBuffer(ctypes.addressof(b1), half, 0)
        # e_continue before the size is known pins an unknown-size header
        lib.ZSTD_compressStream2(
            cs, ctypes.byref(dst), ctypes.byref(src1), 0
        )
        b2 = ctypes.create_string_buffer(data[half:], len(data) - half)
        src2 = _ZstdInBuffer(ctypes.addressof(b2), len(data) - half, 0)
        assert lib.ZSTD_compressStream2(
            cs, ctypes.byref(dst), ctypes.byref(src2), 2  # e_end
        ) == 0
        unk = ob.raw[: dst.pos]
        assert int(
            lib.ZSTD_getFrameContentSize(unk, len(unk))
        ) == (1 << 64) - 1, "fixture must be an unknown-size frame"
        assert zstd_decompress_capped(unk, 1 << 26) == data
        assert zstd_decompress_capped(unk, 100_000) is None  # cap mid-stream
        assert zstd_decompress_capped(unk[: len(unk) // 2], 1 << 26) is None
        # corrupt unknown-size-shaped stream: fails without a cap alloc
        assert zstd_decompress_capped(
            b"\x28\xb5\x2f\xfd" + b"\x00" * 64, 1 << 26
        ) is None

    def test_native_absent_driver_rows_still_green(self, spark, monkeypatch):
        """VERDICT r14 wrong #1 / next #3: the two driver rows whose
        fixture synthesis uses gated native encoders must stay green
        on a container WITHOUT those libraries. Monkeypatch every
        loader gate to 'absent', rebuild each query at sf0.001, and
        assert parity against the RE-DERIVED oracle (the closed form
        of the folded synthesis)."""
        from openaq_data_pipeline_spark.operators import (
            compress_native as cn,
        )
        from openaq_data_pipeline_spark.operators import (
            webp_native as wn,
        )
        from openaq_data_pipeline_spark.queries_crawl import (
            _content_encoding_oracle,
            _vp8_lossy_oracle,
            q_content_encoding_route,
            q_image_vp8_lossy_stats,
        )
        from oracle_harness import compare, run_oracle

        monkeypatch.setattr(cn, "_BROTLI_DEC", None)
        monkeypatch.setattr(cn, "_BROTLI_ENC", None)
        monkeypatch.setattr(cn, "_ZSTD", None)
        monkeypatch.setattr(wn, "_LIB", None)
        monkeypatch.setattr(wn, "_LOAD_FAILED", True)
        sf = "/root/testdata/sf0.001"
        for build, oracle in (
            (
                q_content_encoding_route,
                _content_encoding_oracle(False, False, False),
            ),
            (q_image_vp8_lossy_stats, _vp8_lossy_oracle(False)),
        ):
            df = build(spark, sf)
            problems = compare(df, run_oracle(oracle, sf))
            assert not problems, (build.__name__, problems)


class TestFeedPlane:
    """RSS/Atom discovery + item extraction (r15): both attribute
    orders discover, non-feed <link>s skip, relative hrefs resolve,
    CDATA/entities decode, both formats normalize into one plane,
    and a feed-less page emits nothing."""

    def test_discover_feeds(self, spark):
        from openaq_data_pipeline_spark.operators.frontier import (
            discover_feeds,
        )

        html = (
            '<link rel="stylesheet" href="/s.css">'
            '<link rel="alternate" type="application/rss+xml"'
            ' href="/feed.xml" title="Main">'
            '<link type="application/atom+xml" href="atom.xml"'
            ' rel="alternate">'
            '<link rel="alternate" type="text/html" href="/alt.html">'
        )
        df = spark.createDataFrame(
            [(1, html, "https://h.test/blog/post.html"),
             (2, "<html>no feeds</html>", "https://h.test/x")],
            "id long, html string, url string",
        )
        rows = (
            discover_feeds(df, "html", "id", base_url_col="url")
            .orderBy("id", "feed_pos")
            .collect()
        )
        assert len(rows) == 2 and all(r.id == 1 for r in rows)
        assert [(r.feed_format, r.resolved) for r in rows] == [
            ("rss", "https://h.test/feed.xml"),
            ("atom", "https://h.test/blog/atom.xml"),
        ]

    def test_parse_feed_items_both_formats(self, spark):
        from openaq_data_pipeline_spark.operators.frontier import (
            parse_feed_items,
        )

        rss = (
            '<rss version="2.0"><channel><title>chan</title>'
            "<item><title><![CDATA[A & B]]></title>"
            "<link>https://h.test/a?x=1&amp;y=2</link>"
            "<guid>g1</guid>"
            "<pubDate>Mon, 01 Jun 2026 12:00:00 GMT</pubDate></item>"
            "<item><title>Second</title>"
            "<link>https://h.test/b</link></item>"
            "</channel></rss>"
        )
        atom = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            "<title>feed title</title>"
            "<entry><title>E1</title>"
            '<link rel="alternate" href="https://h.test/e?a=1&amp;b=2"/>'
            "<id>tag:1</id><updated>2026-06-01T00:00:00Z</updated>"
            "</entry></feed>"
        )
        df = spark.createDataFrame(
            [(10, rss), (20, atom)], "fid long, xml string"
        )
        rows = {
            (r.source, r.item_pos): r
            for r in parse_feed_items(df, "xml", "fid").collect()
        }
        assert len(rows) == 3
        r0 = rows[(10, 0)]
        assert r0.feed_format == "rss"
        assert r0.title == "A & B"  # CDATA unwrapped
        assert r0.url == "https://h.test/a?x=1&y=2"  # entity decoded
        assert r0.item_id == "g1"
        assert r0.published == "Mon, 01 Jun 2026 12:00:00 GMT"
        r1 = rows[(10, 1)]
        assert (r1.item_id, r1.published) == (None, None)
        a0 = rows[(20, 0)]
        assert a0.feed_format == "atom"
        assert a0.url == "https://h.test/e?a=1&b=2"  # attr entities
        assert a0.published == "2026-06-01T00:00:00Z"
        # the channel/feed-level <title> never leaks into items
        assert {r.title for r in rows.values()} == {
            "A & B", "Second", "E1"
        }

    def test_codegen_only(self, spark):
        from openaq_data_pipeline_spark.operators.frontier import (
            parse_feed_items,
        )

        df = spark.createDataFrame(
            [(1, "<rss><channel><item><title>t</title></item>"
                 "</channel></rss>")],
            "fid long, xml string",
        )
        plan = (
            parse_feed_items(df, "xml", "fid")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan and "ArrowEval" not in plan


class TestR16FormatsFrontDoor:
    def test_mixed_r16_batch_routes_in_one_pass(self, spark):
        """The r16 format families — favicon ICO, web fonts, HEIF,
        JPEG XL — flow through the SAME route_crawl_payloads front
        door the streaming intake reuses verbatim: one mixed batch,
        every row lands on its plane with its sniffed mime, no
        format needs a bespoke entry point."""
        import numpy as np
        from pyspark.sql import functions as F

        from openaq_data_pipeline_spark.operators.fonts import (
            encode_font_stub,
        )
        from openaq_data_pipeline_spark.operators.multimodal import (
            encode_heif_header,
            encode_ico,
            encode_jxl_header,
            encode_png,
        )
        from openaq_data_pipeline_spark.operators.router import (
            route_crawl_payloads,
        )

        icon = np.full((4, 4, 3), 9, np.uint8)
        rows = [
            (0, encode_ico([icon], ["bmp32"])),
            (1, encode_font_stub(5, 1000, "woff")),
            (2, encode_heif_header(8, 6, b"heic")),
            (3, encode_jxl_header(16, 16, container=True)),
            (4, encode_png(icon)),
            (5, b"plain text body"),
        ]
        df = spark.createDataFrame(rows, "id long, payload binary")
        got = {
            r.id: (r.mime, r.route)
            for r in route_crawl_payloads(df, "payload").collect()
        }
        assert got[0] == ("image/vnd.microsoft.icon", "image")
        assert got[1] == ("font/woff", "discard")  # no glyph plane
        assert got[2] == ("image/heif", "image")
        assert got[3] == ("image/jxl", "image")
        assert got[4] == ("image/png", "image")
        assert got[5] == ("text/plain", "text")


class TestCharsetDecodeOracle:
    """decode_routed_text against DuckDB, over extract_routed_text's
    split topology (codegen detect → JVM cast for UTF-8 → one Arrow hop
    for the rest): five charset spellings of each document (plain
    UTF-8, BOM'd UTF-8, UTF-16-LE+BOM, UTF-16-BE+BOM, latin-1 declared
    via <meta charset>). A café marker with a non-ASCII octet proves
    the bytes decoded through the right codec, and a BOM is consumed,
    never leaked into the text. The oracle is the closed form of the
    expected token and round-tripped text per residue."""

    ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 5 IN (2, 4) THEN 'utf-16'
            WHEN doc_id % 5 = 3 THEN 'iso-8859-1'
            ELSE 'utf-8' END AS charset,
       CASE WHEN doc_id % 5 = 3
            THEN '<meta charset="iso-8859-1">café ± ' || text
            ELSE 'café ± ' || text END AS text_out
FROM documents
ORDER BY doc_id
"""

    def test_five_spellings_match_duckdb(self, spark):
        import pandas as pd

        from openaq_data_pipeline_spark.catalog import load
        from openaq_data_pipeline_spark.operators.router import (
            decode_routed_text,
        )
        from openaq_data_pipeline_spark.operators.text import detect_charset
        from oracle_harness import SF_DIR, compare, run_oracle

        d = load(spark, SF_DIR, "documents")["documents"].select("doc_id", "text")

        def synth(batches):
            for pdf in batches:
                ids, pages = [], []
                for mid, txt in zip(pdf["doc_id"], pdf["text"]):
                    mid = int(mid)
                    body = "café ± " + (txt or "")
                    r = mid % 5
                    if r == 0:
                        b = body.encode("utf-8")
                    elif r == 1:
                        b = b"\xef\xbb\xbf" + body.encode("utf-8")
                    elif r == 2:
                        b = body.encode("utf-16")  # LE + BOM
                    elif r == 3:
                        b = (
                            '<meta charset="iso-8859-1">' + body
                        ).encode("iso-8859-1")
                    else:
                        b = b"\xfe\xff" + body.encode("utf-16-be")
                    ids.append(mid)
                    pages.append(b)
                yield pd.DataFrame({"doc_id": ids, "page": pages})

        pages = d.mapInPandas(synth, schema="doc_id long, page binary")
        df = pages.withColumn(
            "charset", detect_charset(F.col("page"), html=True)
        )
        utf8_bom = F.substring(F.col("page"), 1, 3) == F.lit(b"\xef\xbb\xbf")
        fast = df.where(F.col("charset") == "utf-8").withColumn(
            "text_out",
            F.when(utf8_bom, F.substring(F.col("page"), 4, 1 << 30))
            .otherwise(F.col("page"))
            .cast("string"),
        )
        slow = decode_routed_text(
            df.where(F.col("charset") != "utf-8"), "page", "charset",
            "text_out",
        )
        out = fast.unionByName(slow).select("doc_id", "charset", "text_out")
        problems = compare(out, run_oracle(self.ORACLE, SF_DIR))
        assert not problems, problems
