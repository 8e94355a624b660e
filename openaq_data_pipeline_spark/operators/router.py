"""MIME-routed crawl front door — dispatch fetched payloads to the
right extraction plane by their SNIFFED content type.

A real crawl feed is mixed-modality: the same WARC carries HTML
pages, PDFs, images, audio, gzip-wrapped bodies and binary junk,
and ``Content-Type`` headers lie at web scale. The routing step
sniffs magic bytes (:func:`~openaq_data_pipeline_spark.operators
.text.sniff_mime` — pure codegen) and sends each payload down its
plane:

- ``text/html`` → :func:`~openaq_data_pipeline_spark.operators.text
  .html_extract_density` (main-content extraction);
- ``application/pdf`` → :func:`~openaq_data_pipeline_spark.operators
  .multimodal.pdf_extract_text`;
- ``text/plain`` → charset-sniffed bytes→string (BOM +
  ``<meta charset>`` detection is codegen; the UTF-8 majority casts
  in the JVM, detected non-UTF-8 rows pay one Arrow decode hop);
- ``image/png``, ``image/jpeg``, ``image/gif``, ``image/webp``,
  ``image/tiff``, ``image/avif`` → the real image decoder (features
  only — the text planes never see pixels; WebP decodes all four
  VP8L transforms pure-Python plus lossy VP8/VP8X through the gated
  libwebp binding, TIFF decodes uncompressed and LZW(+predictor)
  RGB, AVIF walks headers; anything undecodable keeps header-walk
  dims beside NULL pixel stats);
- ``audio/x-wav``, ``audio/flac``, ``audio/ogg``, ``audio/mpeg`` →
  :func:`~openaq_data_pipeline_spark.operators.multimodal
  .audio_features` (WAV and FLAC decode to real PCM; MP3/OGG keep
  header-walk rate/duration beside NULL PCM stats);
- ``video/x-msvideo`` / ``video/mp4`` (ISO-BMFF, any brand) →
  :func:`~openaq_data_pipeline_spark.operators.multimodal
  .video_features` (HEADER-ONLY container stats — RIFF chunk walk /
  ISO 14496-12 box walk; the expensive per-frame decode stays a
  batch op behind ``sample_video_frames``);
- ``application/gzip`` → ONE nested-decode hop (bomb-capped,
  re-sniffed, re-routed; gzip-inside-gzip → discard);
- ``application/zip`` / ``application/x-tar`` →
  :func:`route_container_members` (r12): the archive explodes into
  routed MEMBER rows under the same one-hop/bomb-cap posture —
  nested containers discard, capped members keep their names with
  NULL bytes;
- everything else (exotic image formats — the pdfium/PIL plug-in
  point; octet junk) → discard, with the sniffed mime kept for
  observability.

All text planes converge on the SAME downstream funnel (Gopher
gate, denylist, exact/fuzzy dedup) — one correctness surface, per
the engine-wide contract. The reference ingests a single typed feed
(reference scripts/fetch_data.py + dags/: NDJSON measurements
only), so routing is pure extension capability for the
training-data tier.

Scale notes (100 TB): the sniff, the route CASE and the charset
detection are codegen and fuse into the payload scan; only gzip rows
and detected non-UTF-8 text rows pay an Arrow hop, and the gzip hop
is bomb-capped (``max_gunzip_bytes``) so one hostile member cannot
OOM an executor. :func:`route_crawl_payloads` is a two-branch
union over one input — callers that feed an expensive scan should
``localCheckpoint`` the input first (the streaming gate does).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openaq_data_pipeline_spark.operators.text import sniff_mime

ROUTE_TEXT = "text"
ROUTE_IMAGE = "image"
ROUTE_AUDIO = "audio"
ROUTE_VIDEO = "video"
ROUTE_NESTED = "nested"
ROUTE_DISCARD = "discard"

_TEXT_MIMES = ("text/html", "application/pdf", "text/plain")
_IMAGE_MIMES = (
    "image/png", "image/jpeg", "image/gif", "image/webp", "image/tiff",
    "image/avif", "image/svg+xml", "image/vnd.microsoft.icon",
    "image/heif", "image/jxl",
)
_AUDIO_MIMES = ("audio/x-wav", "audio/flac", "audio/ogg", "audio/mpeg")
_VIDEO_MIMES = ("video/x-msvideo", "video/mp4")


# single-file compression formats the magic-driven hop can decode
# (r15 adds .Z / xz / bzip2 beside gzip: .Z via the engine's own
# gzip-validated LZW codec, xz/bzip2 via stdlib — all capped)
_NESTED_MIMES = (
    "application/gzip", "application/x-compress",
    "application/x-xz", "application/x-bzip2",
)


def route_for_mime(mime: Column) -> Column:
    """Plane for a sniffed mime — a pure codegen CASE ladder.
    Single-file compression mimes (gzip/.Z/xz/bzip2) map to
    ``nested`` (the caller owes each one decode hop); NULL mime
    (NULL payload) discards."""
    return (
        F.when(mime.isin(*_TEXT_MIMES), F.lit(ROUTE_TEXT))
        .when(mime.isin(*_IMAGE_MIMES), F.lit(ROUTE_IMAGE))
        .when(mime.isin(*_AUDIO_MIMES), F.lit(ROUTE_AUDIO))
        .when(mime.isin(*_VIDEO_MIMES), F.lit(ROUTE_VIDEO))
        .when(mime.isin(*_NESTED_MIMES), F.lit(ROUTE_NESTED))
        .otherwise(F.lit(ROUTE_DISCARD))
    )


# HTTP Content-Encoding tokens the hop can decode with stdlib zlib.
# "deflate" is ambiguous in the wild (RFC 9110 says zlib-wrapped, many
# servers send raw DEFLATE), so it tries both framings. Brotli/zstd
# (r14) decode through the gated system-library bindings when those
# load (operators/compress_native — the same capped one-shot
# contract); when a library is absent its token stays outside the
# set and routes to an observable discard, never a silent drop.
_DECODABLE_ENCODINGS = (
    "gzip", "x-gzip", "deflate",
    # r15: the remaining classic tokens — 'compress' (RFC 9110's
    # registered .Z token, served by the engine's own gzip-validated
    # LZW codec) and the wild-web 'xz'/'bzip2' spellings (stdlib
    # lzma/bz2, capped) — deterministic everywhere, no gate needed
    "compress", "x-compress", "xz", "x-xz", "bzip2", "x-bzip2",
)


def _decodable_encodings() -> tuple[str, ...]:
    """The per-process decodable token set: stdlib zlib framings
    plus whichever native codecs loaded. Evaluated when the plan is
    BUILT (driver side) — a cluster whose executors lack a library
    the driver has would mis-route, so deployments must ship the
    same image everywhere (the container contract this repo already
    assumes for Python/Arrow versions)."""
    from openaq_data_pipeline_spark.operators.compress_native import (
        brotli_available,
        zstd_available,
    )

    toks = list(_DECODABLE_ENCODINGS)
    if brotli_available():
        toks.append("br")
    if zstd_available():
        toks.append("zstd")
    return tuple(toks)

# wbits candidates per encoding token: 31 = gzip framing, 15 =
# zlib-wrapped deflate, -15 = raw deflate
_ENCODING_WBITS = {
    "gzip": (31,),
    "x-gzip": (31,),
    "deflate": (15, -15),
}


def _xz_decompress_capped(blob: bytes, max_bytes: int) -> bytes | None:
    """Bomb-capped xz decode via stdlib lzma: the cap rides the
    decompressor's ``max_length`` (output past it → None before any
    further allocation), truncated/corrupt streams → None."""
    import lzma

    try:
        d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
        out = d.decompress(blob, max_bytes)
        if not d.eof:
            # A payload whose decoded size is EXACTLY max_bytes can
            # stop at the cap before the stream-end bytes are
            # consumed, leaving eof False. One more zero-input pull
            # distinguishes it: output remaining → genuine overflow
            # (bomb); nothing more and eof now set → legitimate
            # at-cap payload, accept. ADVICE r15 #5.
            if d.decompress(b"", 1):
                return None  # output past the cap: bomb
    except lzma.LZMAError:
        return None
    if not d.eof:
        return None  # truncated input
    return out


def _bz2_decompress_capped(blob: bytes, max_bytes: int) -> bytes | None:
    """The bzip2 twin of :func:`_xz_decompress_capped` (stdlib
    bz2)."""
    import bz2

    try:
        d = bz2.BZ2Decompressor()
        out = d.decompress(blob, max_bytes)
        if not d.eof and d.decompress(b"", 1):
            return None  # output past the cap: bomb (see xz twin)
    except OSError:
        return None
    if not d.eof:
        return None
    return out


def _inflate_capped(blob: bytes, wbits: int, max_bytes: int) -> bytes | None:
    """One bomb-capped inflate attempt; None on corrupt stream,
    output-cap overflow, or truncated input (no stream end)."""
    try:
        d = zlib.decompressobj(wbits=wbits)
        out = d.decompress(blob, max_bytes)
        if d.unconsumed_tail:  # output cap hit: bomb
            return None
        out += d.flush()
        return out if d.eof else None
    except zlib.error:
        return None


def _decode_payload(
    blob: bytes, encoding: str | None, max_bytes: int
) -> bytes | None:
    """Decode one payload under its Content-Encoding hint (or gzip/
    zlib magic sniff when the hint is absent). Raw DEFLATE has no
    magic, so without a hint it is only reachable via the zlib
    fallback order; with hint ``deflate`` both framings are tried —
    zlib-wrapped first (the RFC meaning), raw second (the wild).
    ``br``/``zstd`` (r14) decode through the gated native bindings
    under the same output cap; an unavailable library or corrupt
    stream yields None exactly like a failed inflate."""
    if encoding == "br":
        from openaq_data_pipeline_spark.operators.compress_native import (
            brotli_decompress_capped,
        )

        return brotli_decompress_capped(blob, max_bytes)
    if encoding == "zstd":
        from openaq_data_pipeline_spark.operators.compress_native import (
            zstd_decompress_capped,
        )

        return zstd_decompress_capped(blob, max_bytes)
    if encoding in ("compress", "x-compress") or (
        encoding is None and blob[:2] == b"\x1f\x9d"
    ):
        from openaq_data_pipeline_spark.operators.compress_z import (
            decompress_z_capped,
        )

        return decompress_z_capped(blob, max_bytes)
    if encoding in ("xz", "x-xz") or (
        encoding is None and blob[:6] == b"\xfd7zXZ\x00"
    ):
        return _xz_decompress_capped(blob, max_bytes)
    if encoding in ("bzip2", "x-bzip2") or (
        encoding is None
        and blob[:3] == b"BZh"
        and blob[3:4].isdigit()
    ):
        return _bz2_decompress_capped(blob, max_bytes)
    if encoding in _ENCODING_WBITS:
        candidates = _ENCODING_WBITS[encoding]
    elif blob[:2] == b"\x1f\x8b":
        candidates = (31,)
    elif (
        len(blob) >= 2
        and blob[0] & 0x0F == 8
        and (blob[0] << 8 | blob[1]) % 31 == 0
    ):
        # plausible zlib header (CM=deflate, FCHECK valid)
        candidates = (15, -15)
    else:
        candidates = (31,)
    for wbits in candidates:
        out = _inflate_capped(blob, wbits, max_bytes)
        if out is not None:
            return out
    return None


def gunzip_once(
    df: DataFrame,
    payload_col: str,
    out_col: str,
    max_bytes: int = 1 << 26,
    encoding_col: str | None = None,
) -> DataFrame:
    """Decompress a compressed payload column ONCE, capped at
    ``max_bytes`` of OUTPUT per row — a bomb or a corrupt member
    yields NULL instead of an executor OOM / stage failure. One
    Arrow ``mapInPandas`` stage, schema preserved + ``out_col``.

    Framing is chosen per row: an explicit ``encoding_col`` hint
    (HTTP ``Content-Encoding`` token: ``gzip``/``x-gzip`` → gzip,
    ``deflate`` → zlib-wrapped then raw DEFLATE) wins; with no hint
    the magic bytes decide (gzip magic → gzip, plausible zlib header
    → zlib then raw). Tokens outside ``_DECODABLE_ENCODINGS`` (br,
    zstd, …) yield NULL — the caller keeps the hint column, so the
    undecodable rows stay countable, never silently dropped.
    """
    from pyspark.sql.types import BinaryType, StructField, StructType

    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = StructType(in_fields + [StructField(out_col, BinaryType())])
    cols = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            inner = []
            hints = (
                pdf[encoding_col]
                if encoding_col is not None
                else [None] * len(pdf)
            )
            for c, enc in zip(pdf[payload_col], hints):
                if c is None:
                    inner.append(None)
                    continue
                blob = c if isinstance(c, bytes) else bytes(c)
                hint = (
                    enc.strip().lower()
                    if isinstance(enc, str) and enc.strip()
                    else None
                )
                if (
                    hint is not None
                    and hint not in _DECODABLE_ENCODINGS
                    and hint not in ("br", "zstd")
                ):
                    inner.append(None)  # exi/aes128gcm/…: observable NULL
                    continue
                inner.append(_decode_payload(blob, hint, max_bytes))
            out_pdf = pdf[cols].copy()
            out_pdf[out_col] = inner
            yield out_pdf

    return df.mapInPandas(run, schema=schema)


def _walk_zip(blob: bytes, max_bytes: int, max_members: int):
    """(index, name, bytes|None) per ZIP member; None instead of an
    iterator for a corrupt/empty archive. Capped members (bomb/lying
    size header — the READ is capped, declared sizes are untrusted),
    members beyond ``max_members`` (directory walk stays header-only)
    and encrypted members yield their name with NULL bytes."""
    import io
    import zipfile

    try:
        zf = zipfile.ZipFile(io.BytesIO(blob))
        # directory entries are structural, not members: they must
        # not consume the member cap or surface as phantom
        # empty-bytes rows (the tar walker's isfile() twin)
        infos = [i for i in zf.infolist() if not i.is_dir()]
    except Exception:
        return None
    if not infos:
        return None

    def gen():
        for mi, info in enumerate(infos):
            if mi >= max_members:
                yield mi, info.filename, None
                continue
            try:
                with zf.open(info) as fh:
                    data = fh.read(max_bytes + 1)
                if len(data) > max_bytes:
                    data = None
            except Exception:
                data = None
            yield mi, info.filename, data

    return gen()


def _walk_tar(blob: bytes, max_bytes: int, max_members: int):
    """The ustar twin of :func:`_walk_zip` (uncompressed tar — a
    ``.tar.gz`` reaches here only through the gzip hop, and a tar
    found INSIDE that hop stays discarded by the one-hop contract).
    Non-file entries (directories, links) are skipped; a tar "bomb"
    is just a large stored file, which the capped read bounds the
    same way."""
    import io
    import tarfile

    try:
        tar = tarfile.open(fileobj=io.BytesIO(blob), mode="r:")
        infos = [m for m in tar.getmembers() if m.isfile()]
    except Exception:
        return None
    if not infos:
        return None

    def gen():
        for mi, info in enumerate(infos):
            if mi >= max_members:
                yield mi, info.name, None
                continue
            try:
                fh = tar.extractfile(info)
                data = fh.read(max_bytes + 1) if fh is not None else None
                if data is not None and len(data) > max_bytes:
                    data = None
            except Exception:
                data = None
            yield mi, info.name, data

    return gen()


_CONTAINER_WALKERS = {"zip": _walk_zip, "tar": _walk_tar}
_CONTAINER_MIMES = ("application/zip", "application/x-tar")


def container_members(
    df: DataFrame,
    payload_col: str,
    fmt: str = "zip",
    max_bytes: int = 1 << 26,
    max_members: int = 256,
) -> DataFrame:
    """Explode container payloads (``fmt``: ``zip`` or ``tar``) into
    one row per archive member — the container analogue of
    :func:`gunzip_once`, same ONE-hop, same bomb posture, nothing
    silent:

    - each member row carries ``member_index``/``member_name`` plus
      the member bytes;
    - a member whose bytes exceed ``max_bytes`` (bomb, lying size
      header — the read is capped, declared sizes are NOT trusted)
      yields its name with NULL bytes;
    - members beyond ``max_members`` keep their name (the directory
      walk is header-only) with NULL bytes — the cap is observable
      per member, never a truncation;
    - a corrupt/empty/mismatched payload yields ONE row with NULL
      index/name/bytes, so route_stats-style accounting still sees
      the row;
    - encrypted zip members yield name + NULL (no password plane);
    - member rows carry NULL in the PARENT payload column — the
      archive bytes must not replicate across every member row of
      the Arrow batch (keep a side copy upstream if you need them).

    Re-sniff + route the ``member`` column with
    :func:`~openaq_data_pipeline_spark.operators.text.sniff_mime` +
    :func:`route_for_mime` and discard nested containers to keep the
    global one-hop contract — :func:`route_container_members` does
    exactly that. One Arrow ``mapInPandas`` stage; stdlib
    ``zipfile``/``tarfile`` (stored + DEFLATE / ustar)."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    if fmt not in _CONTAINER_WALKERS:
        raise ValueError(f"container_members: unknown fmt {fmt!r}")
    walk = _CONTAINER_WALKERS[fmt]

    in_fields = [
        f
        for f in df.schema.fields
        if f.name not in ("member_index", "member_name", "member")
    ]
    schema = StructType(
        in_fields
        + [
            StructField("member_index", IntegerType()),
            StructField("member_name", StringType()),
            StructField("member", BinaryType()),
        ]
    )
    cols = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = {c: [] for c in cols}
            idxs, names, blobs = [], [], []

            def emit(row_i, mi, name, blob):
                for c in cols:
                    # the PARENT archive bytes must not replicate
                    # onto every member row (a 64 MiB zip with 256
                    # members would serialize GiBs into one Arrow
                    # batch before any downstream prune) — member
                    # rows carry NULL in the parent payload slot
                    out_rows[c].append(
                        None if c == payload_col else pdf[c].iloc[row_i]
                    )
                idxs.append(mi)
                names.append(name)
                blobs.append(blob)

            for row_i, c in enumerate(pdf[payload_col]):
                if c is None:
                    emit(row_i, None, None, None)
                    continue
                blob = c if isinstance(c, bytes) else bytes(c)
                walked = walk(blob, max_bytes, max_members)
                if walked is None:
                    emit(row_i, None, None, None)
                    continue
                for mi, name, data in walked:
                    emit(row_i, mi, name, data)
            out_pdf = pd.DataFrame(out_rows, columns=cols)
            out_pdf["member_index"] = pd.array(idxs, dtype="Int32")
            out_pdf["member_name"] = names
            out_pdf["member"] = blobs
            yield out_pdf

    return df.mapInPandas(run, schema=schema)


def route_container_members(
    df: DataFrame,
    payload_col: str,
    fmt: str = "zip",
    mime_col: str = "mime",
    route_col: str = "route",
    max_bytes: int = 1 << 26,
    max_members: int = 256,
) -> DataFrame:
    """Container rows → routed MEMBER rows: explode via
    :func:`container_members`, re-sniff each member and route it
    like a first-class payload — except nested containers (a gzip,
    zip or tar INSIDE the archive), which discard under the global
    one-hop contract (one container hop per payload, never a loop).
    The member bytes land in ``payload_col`` so downstream
    extractors consume the same uniform column; sniff + route are
    codegen over the exploded frame. NULL members (capped bombs,
    corrupt archives) keep the CONTAINER mime for accountable
    route_stats grouping."""
    members = container_members(
        df, payload_col, fmt,
        max_bytes=max_bytes, max_members=max_members,
    )
    container_mime = (
        "application/zip" if fmt == "zip" else "application/x-tar"
    )
    mime = sniff_mime(F.col("member"))
    return members.select(
        *[
            c
            for c in members.columns
            # mime/route are recomputed for the member — stale parent
            # columns (e.g. from route_crawl_payloads) must not
            # survive as duplicates
            if c not in (payload_col, "member", mime_col, route_col)
        ],
        F.col("member").alias(payload_col),
        F.coalesce(mime, F.lit(container_mime)).alias(mime_col),
    ).withColumn(
        route_col,
        F.when(
            # a compressed or container member inside an archive
            # stays discarded — one container hop per payload, and
            # the single-file decode hop was already spent upstream
            # (r15: the .Z/xz/bzip2 mimes join gzip here)
            F.col(mime_col).isin(*_NESTED_MIMES, *_CONTAINER_MIMES),
            F.lit(ROUTE_DISCARD),
        ).otherwise(route_for_mime(F.col(mime_col))),
    )


def unzip_members(
    df: DataFrame,
    payload_col: str,
    max_bytes: int = 1 << 26,
    max_members: int = 256,
) -> DataFrame:
    """:func:`container_members` for ZIP."""
    return container_members(
        df, payload_col, "zip",
        max_bytes=max_bytes, max_members=max_members,
    )


def route_zip_members(
    df: DataFrame,
    payload_col: str,
    mime_col: str = "mime",
    route_col: str = "route",
    max_bytes: int = 1 << 26,
    max_members: int = 256,
) -> DataFrame:
    """:func:`route_container_members` for ZIP."""
    return route_container_members(
        df, payload_col, "zip", mime_col=mime_col, route_col=route_col,
        max_bytes=max_bytes, max_members=max_members,
    )


def route_crawl_payloads(
    df: DataFrame,
    payload_col: str,
    mime_col: str = "mime",
    route_col: str = "route",
    gzip_col: str = "was_gzip",
    max_gunzip_bytes: int = 1 << 26,
    encoding_col: str | None = None,
) -> DataFrame:
    """Sniff + route every payload, resolving compressed bodies
    through ONE nested-decode hop: output rows carry the EFFECTIVE
    mime (the inner type for compressed members), the plane in
    ``route_col``, and ``payload_col`` rewritten to the decoded bytes
    for hopped rows so every downstream extractor consumes one
    uniform column. ``gzip_col`` is True exactly for rows that took
    the hop (historic name; deflate rows set it too).

    Without ``encoding_col`` the hop is magic-byte driven (gzip
    only — raw DEFLATE has no magic; today's behavior unchanged).
    With it (e.g. the WARC reader's ``http_content_encoding``):

    - ``gzip``/``x-gzip``/``deflate`` rows take the hint-driven hop
      (deflate tries zlib-wrapped then raw framing);
    - ``br``/``zstd`` rows (r14) take the same hop through the gated
      native bindings when the system libraries load; when a library
      is absent the token behaves exactly as before: the row routes
      straight to ``discard`` with its hint intact — the payload
      bytes are NOT the claimed content until decoded, so sniffing
      them would route garbage. Count discards via
      :func:`route_stats` grouped on the hint column;
    - other non-identity tokens (``compress``, …) discard the same
      observable way;
    - ``identity``/blank/NULL rows take the magic-sniff path.

    Non-hopped rows never leave the JVM (sniff + CASE are codegen);
    hopped rows pay one bomb-capped Arrow pass. A member whose inner
    bytes are themselves compressed, or that fails/overflows the
    decode, keeps an undecoded mime (``application/gzip`` for gzip
    magic, ``application/octet-stream`` otherwise) and discards —
    one hop, never a loop.
    """
    mimed = df.withColumn(mime_col, sniff_mime(F.col(payload_col)))
    enc = (
        F.lower(F.trim(F.col(encoding_col)))
        if encoding_col is not None
        else F.lit(None).cast("string")
    )
    hinted = enc.isNotNull() & (enc != "") & (enc != "identity")
    takes_hop = F.col(mime_col).isin(*_NESTED_MIMES) | (
        hinted & enc.isin(*_decodable_encodings())
    )
    undecodable = hinted & ~enc.isin(*_decodable_encodings())
    direct = mimed.where(
        F.coalesce(~takes_hop, F.lit(True))
    ).select(
        "*",
        F.when(undecodable, F.lit(ROUTE_DISCARD))
        .otherwise(route_for_mime(F.col(mime_col)))
        .alias(route_col),
        F.lit(False).alias(gzip_col),
    )
    gz = gunzip_once(
        mimed.where(takes_hop).drop(mime_col),
        payload_col,
        "__inner",
        max_bytes=max_gunzip_bytes,
        encoding_col=encoding_col,
    )
    inner_mime = sniff_mime(F.col("__inner"))
    undecoded_mime = (
        F.when(
            F.substring(F.col(payload_col), 1, 2) == F.lit(b"\x1f\x8b"),
            F.lit("application/gzip"),
        )
        .when(
            F.substring(F.col(payload_col), 1, 2) == F.lit(b"\x1f\x9d"),
            F.lit("application/x-compress"),
        )
        .when(
            F.substring(F.col(payload_col), 1, 6) == F.lit(b"\xfd7zXZ\x00"),
            F.lit("application/x-xz"),
        )
        .when(
            F.substring(F.col(payload_col), 1, 3) == F.lit(b"BZh"),
            F.lit("application/x-bzip2"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )
    hopped = (
        gz.select(
            *[
                F.col("__inner").alias(payload_col)
                if f == payload_col
                else F.col(f)
                for f in df.columns
            ],
            F.coalesce(inner_mime, undecoded_mime).alias(mime_col),
            F.col("__inner").isNull().alias("__hop_failed"),
        )
        .withColumn(
            route_col,
            F.when(
                F.col("__hop_failed")
                | F.col(mime_col).isin(*_NESTED_MIMES),
                F.lit(ROUTE_DISCARD),
            ).otherwise(route_for_mime(F.col(mime_col))),
        )
        .drop("__hop_failed")
        .withColumn(gzip_col, F.lit(True))
    )
    return direct.unionByName(hopped)


def decode_routed_text(
    df: DataFrame,
    payload_col: str,
    charset_col: str,
    out_col: str,
) -> DataFrame:
    """Decode a binary payload column to a string under a per-row
    charset token — ONE Arrow ``mapInPandas`` stage for the detected
    non-UTF-8 MINORITY of a crawl feed (the UTF-8 majority takes the
    codegen cast in :func:`extract_routed_text`; same fast-path/
    slow-hop split as the gzip hop). The token resolves through
    Python's codec alias table (``latin-1``, ``windows-1252``,
    ``shift_jis``, … all work), unknown tokens fall back to lenient
    UTF-8, malformed bytes become U+FFFD — a lying ``<meta charset>``
    can cost replacement chars, never a stage failure. BOMs are
    consumed (``utf-16`` picks its endianness from the BOM)."""
    import codecs

    from pyspark.sql.types import StringType, StructField, StructType

    in_fields = [f for f in df.schema.fields if f.name != out_col]
    schema = StructType(in_fields + [StructField(out_col, StringType())])
    cols = [f.name for f in in_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for blob, cs in zip(pdf[payload_col], pdf[charset_col]):
                if blob is None:
                    texts.append(None)
                    continue
                b = blob if isinstance(blob, bytes) else bytes(blob)
                try:
                    codec = codecs.lookup(cs or "utf-8").name
                except LookupError:
                    codec = "utf-8"
                if codec == "utf-8" and b[:3] == b"\xef\xbb\xbf":
                    b = b[3:]
                s = b.decode(codec, "replace")
                if s[:1] == "\ufeff":  # stray BOM survived a non-utf-16 codec
                    s = s[1:]
                texts.append(s)
            out_pdf = pdf[cols].copy()
            out_pdf[out_col] = texts
            yield out_pdf

    return df.mapInPandas(run, schema=schema)


def extract_routed_text(
    routed: DataFrame,
    payload_col: str,
    mime_col: str = "mime",
    out_col: str = "text",
    min_len: int = 60,
    max_link_density: float = 0.2,
) -> DataFrame:
    """The TEXT plane: run the right extractor per effective mime and
    return one uniform frame (all non-payload columns + ``out_col``).
    html → content-density extraction (one Arrow pass); pdf →
    the stdlib FlateDecode extractor (one Arrow pass); plain/html
    payload bytes → string via charset sniffing (r12, VERDICT r11
    next #4): :func:`~openaq_data_pipeline_spark.operators.text
    .detect_charset` (BOM + ``<meta charset>``, pure codegen) splits
    the rows — the UTF-8 majority takes Spark's lenient codegen cast
    (BOM stripped), the non-UTF-8 minority pays one Arrow decode hop
    (:func:`decode_routed_text`) — so a latin-1 or UTF-16 page no
    longer extracts mojibake that would poison dedup fingerprints
    downstream. Rows not routed ``text`` are ignored.
    """
    from openaq_data_pipeline_spark.operators.multimodal import (
        pdf_extract_text,
    )
    from openaq_data_pipeline_spark.operators.text import (
        detect_charset,
        html_extract_density,
    )

    keep = [c for c in routed.columns if c not in (payload_col, out_col)]
    base = routed.where(
        F.col(mime_col).isin("text/html", "text/plain")
    ).withColumn(
        "__cs",
        detect_charset(
            F.col(payload_col), html=F.col(mime_col) == "text/html"
        ),
    )
    utf8_bom = F.substring(F.col(payload_col), 1, 3) == F.lit(
        b"\xef\xbb\xbf"
    )
    # ONE predicate names the fast path; the slow path is its exact
    # negation — writing it twice invites a future edit to one arm
    # silently dropping or duplicating rows between the branches
    is_fast = F.col("__cs").isNull() | F.col("__cs").isin(
        "utf-8", "us-ascii", "ascii"
    )
    fast = base.where(is_fast).withColumn(
        "__str",
        F.when(
            utf8_bom, F.substring(F.col(payload_col), 4, 1 << 30)
        )
        .otherwise(F.col(payload_col))
        .cast("string"),
    )
    slow = decode_routed_text(
        base.where(~is_fast),
        payload_col,
        "__cs",
        "__str",
    )
    decoded = fast.unionByName(slow)
    html = html_extract_density(
        decoded.where(F.col(mime_col) == "text/html"),
        "__str",
        out_col=out_col,
        min_len=min_len,
        max_link_density=max_link_density,
    ).select(*keep, out_col)
    pdf = pdf_extract_text(
        routed.where(F.col(mime_col) == "application/pdf"),
        payload_col,
        out_col=out_col,
    ).select(*keep, out_col)
    plain = decoded.where(F.col(mime_col) == "text/plain").select(
        *keep, F.col("__str").alias(out_col)
    )
    return html.unionByName(pdf).unionByName(plain)


def route_stats(
    routed: DataFrame,
    mime_col: str = "mime",
    route_col: str = "route",
    gzip_col: str = "was_gzip",
    payload_col: str | None = None,
    encoding_col: str | None = None,
) -> DataFrame:
    """(mime, route, was_gzip[, encoding], n_payloads, n_bytes_null)
    — one partial-aggregable pass over a routed frame: the
    observability face of the front door ("no silent caps" — every
    discarded or gzip-mangled payload is countable, never invisibly
    dropped). ``n_bytes_null`` counts rows whose payload is NULL
    after routing (failed/bombed decompression hops and NULL
    fetches). ``encoding_col`` (r13) adds the Content-Encoding hint
    as a grouping dimension, so the br/zstd share the hop cannot
    decode shows up as its own labeled discard row.

    ``payload_col`` names the payload explicitly; when omitted it is
    inferred only if the schema carries exactly one binary column —
    two binary columns (e.g. a kept raw-bytes copy beside the decoded
    payload) make the inference ambiguous and raise instead of
    silently counting the wrong column.
    """
    from pyspark.sql.types import BinaryType

    if payload_col is None:
        bin_cols = [
            f.name for f in routed.schema.fields
            if isinstance(f.dataType, BinaryType)
        ]
        if len(bin_cols) > 1:
            raise ValueError(
                "route_stats: multiple binary columns "
                f"{bin_cols}; pass payload_col explicitly"
            )
        payload_col = bin_cols[0] if bin_cols else None
    null_flag = (
        F.when(F.col(payload_col).isNull(), 1).otherwise(0)
        if payload_col is not None
        else F.lit(0)
    )
    keys = [mime_col, route_col, gzip_col]
    if encoding_col is not None:
        keys.append(encoding_col)
    return (
        routed.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum(null_flag).cast("long").alias("n_bytes_null"),
        )
    )


def crawl_route_planes(
    routed: DataFrame,
    payload_col: str,
    id_col: str,
    mime_col: str = "mime",
    route_col: str = "route",
    **text_kwargs,
) -> dict[str, DataFrame]:
    """Split a routed frame into its five planes, each already run
    through its extractor: ``text`` (uniform extracted-text rows,
    ready for the quality/lang/dedup funnel), ``image`` / ``audio`` /
    ``video`` (lenient feature rows — corrupt bytes degrade to NULL
    columns, never fail the stage; the video plane is header-only
    container stats), ``discard`` (every non-payload column + mime,
    for observability — member frames keep their name/index
    provenance in the audit; migration note: before r12 this plane
    was (id, mime, route) only — a discard SINK written across the
    upgrade holds both schemas, so read it with ``mergeSchema`` or
    start a fresh audit directory).
    The input should be cached or ``localCheckpoint``-ed by the
    caller — five consumers.
    """
    from openaq_data_pipeline_spark.operators.multimodal import (
        audio_features,
        extract_features,
        video_features,
    )

    return {
        ROUTE_TEXT: extract_routed_text(
            routed.where(F.col(route_col) == ROUTE_TEXT),
            payload_col,
            mime_col=mime_col,
            **text_kwargs,
        ),
        ROUTE_IMAGE: extract_features(
            routed.where(F.col(route_col) == ROUTE_IMAGE),
            content_col=payload_col,
            id_col=id_col,
            decode="real",
            lenient=True,
        ),
        ROUTE_AUDIO: audio_features(
            routed.where(F.col(route_col) == ROUTE_AUDIO),
            content_col=payload_col,
            id_col=id_col,
            lenient=True,
        ),
        ROUTE_VIDEO: video_features(
            routed.where(F.col(route_col) == ROUTE_VIDEO),
            content_col=payload_col,
            id_col=id_col,
            lenient=True,
        ),
        # every non-payload column survives into the discard audit —
        # container-member frames carry member_index/member_name and
        # the "capped members keep their names" accountability is
        # only real if those names reach the audit rows (r12 review)
        ROUTE_DISCARD: routed.where(
            F.col(route_col) == ROUTE_DISCARD
        ).drop(payload_col),
    }
