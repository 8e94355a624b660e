"""SVG rasterization via the gated librsvg+cairo binding (r16,
VERDICT r15 next #3): exact solid-rect rendering over the white
underlay, the walked-dims viewport contract, the image-plane
dispatch, and the absent-library degrade."""

from __future__ import annotations

import numpy as np
import pytest

from openaq_data_pipeline_spark.operators import svg_native
from openaq_data_pipeline_spark.operators.multimodal import (
    _decode_image,
    encode_png,
)


@pytest.mark.skipif(
    not svg_native.available(), reason="librsvg/cairo not present"
)
class TestRasterize:
    def test_solid_rects_render_exactly(self):
        """Integer-aligned solid rgb() rects have no antialiasing —
        pixel values are exact, which is what makes the driver
        query's closed-form oracle possible."""
        w, h, s, r, g, b = 100, 80, 23, 77, 130, 200
        svg = (
            f'<svg width="{w}" height="{h}"><rect x="0" y="0" '
            f'width="{w}" height="{s}" fill="rgb({r},{g},{b})"/></svg>'
        ).encode()
        out = svg_native.rasterize_svg(svg)
        assert out.shape == (h, w, 3)
        assert (out[:s] == [r, g, b]).all()
        assert (out[s:] == 255).all()  # white underlay
        assert int(out.sum()) == w * s * (r + g + b) + w * (h - s) * 765

    def test_viewbox_and_px_dims_match_attr_dims(self):
        """The viewport comes from the engine's own header walk, so
        all three dimension spellings render identically."""
        body = '<rect width="20" height="7" fill="rgb(1,2,3)"/>'
        a = svg_native.rasterize_svg(
            f'<svg width="20" height="10">{body}</svg>'.encode()
        )
        vb = svg_native.rasterize_svg(
            f'<svg viewBox="0 0 20 10">{body}</svg>'.encode()
        )
        px = svg_native.rasterize_svg(
            f'<svg width="20.0px" height="10px">{body}</svg>'.encode()
        )
        assert np.array_equal(a, vb) and np.array_equal(a, px)

    def test_external_resources_cannot_leak(self):
        """A hostile SVG must not exfiltrate host files into pixels:
        librsvg loaded from data (no base URI) refuses file:// image
        refs — the underlay stays untouched — and libxml2 refuses
        SYSTEM entity resolution outright (XXE). Pinned because a
        crawl corpus is UNTRUSTED input rendering on every
        executor."""
        svg = (
            b'<svg width="8" height="8" '
            b'xmlns="http://www.w3.org/2000/svg" '
            b'xmlns:xlink="http://www.w3.org/1999/xlink">'
            b'<image x="0" y="0" width="8" height="8" '
            b'xlink:href="file:///etc/hostname"/></svg>'
        )
        out = svg_native.rasterize_svg(svg)
        assert (out == 255).all()  # nothing drew over the underlay
        xxe = (
            b'<?xml version="1.0"?><!DOCTYPE svg [<!ENTITY xxe '
            b'SYSTEM "file:///etc/hostname">]>'
            b'<svg width="8" height="8">'
            b'<text x="0" y="6">&xxe;</text></svg>'
        )
        with pytest.raises(ValueError, match="parse failed"):
            svg_native.rasterize_svg(xxe)

    def test_unrenderable_raise(self):
        with pytest.raises(ValueError, match="no intrinsic size"):
            svg_native.rasterize_svg(b'<svg xmlns="x"><rect/></svg>')
        with pytest.raises(ValueError, match="parse failed"):
            svg_native.rasterize_svg(b'<svg width="5" height="5"><oops')
        with pytest.raises(ValueError, match="exceed cap"):
            svg_native.rasterize_svg(
                b'<svg width="9999" height="9999"/>', max_px=100
            )

    def test_image_plane_dispatch_and_png_equivalence(self):
        """An SVG of per-pixel rects and the PNG of the same image
        decode IDENTICALLY through the one magic-dispatch plane —
        the property image_crossformat_dedup's SVG arm rides on."""
        rng = np.random.default_rng(5)
        coarse = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(coarse, 2, 0), 2, 1)
        parts = ['<svg width="8" height="8">']
        for y in range(4):
            for x in range(4):
                r, g, b = (int(v) for v in coarse[y, x])
                parts.append(
                    f'<rect x="{x * 2}" y="{y * 2}" width="2" '
                    f'height="2" fill="rgb({r},{g},{b})"/>'
                )
        parts.append("</svg>")
        svg = "".join(parts).encode()
        assert np.array_equal(_decode_image(svg), img)
        assert np.array_equal(_decode_image(encode_png(img)), img)
        # xml-prologue spelling dispatches too
        assert np.array_equal(
            _decode_image(b'<?xml version="1.0"?>' + svg), img
        )


class TestGateDegrade:
    def test_loader_monkeypatch_closes_gate(self, monkeypatch):
        monkeypatch.setattr(svg_native, "_LIBS", None)
        monkeypatch.setattr(svg_native, "_LOAD_FAILED", True)
        assert not svg_native.available()
        with pytest.raises(ValueError, match="unavailable"):
            svg_native.rasterize_svg(b'<svg width="2" height="2"/>')
        # the image plane degrades like any ValueError codec row
        with pytest.raises(ValueError):
            _decode_image(b'<svg width="2" height="2"/>')

    def test_svg_stats_oracle_rederives_from_gate(self, monkeypatch):
        """The driver query's oracle is a function of the SAME
        availability boolean the plan froze — the r15 env-robust
        contract, pinned by re-deriving both faces."""
        from openaq_data_pipeline_spark.queries_crawl import (
            _svg_stats_oracle,
        )

        with_px = _svg_stats_oracle(True)
        without = _svg_stats_oracle(False)
        assert "70 * 765" in with_px
        assert "CAST(NULL AS BIGINT)" in without
        assert with_px.count("AS px_sum") == 1
        assert without.count("AS px_sum") == 1
