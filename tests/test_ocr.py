"""Bitmap-font OCR: the render -> PNG -> decode -> match roundtrip
that gates the parser's image-only-document OCR slot on real bytes."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crawlspark.functions.ocr import (
    FONT,
    clean_ocr_text,
    ocr_image,
    ocr_png,
    render_text,
    render_text_png,
    resolve_ocr_fn,
)

GLYPHS = "".join(sorted(FONT))


def test_font_is_collision_free():
    """Exact-match reading requires every glyph bitmap distinct."""
    assert len({FONT[c] for c in FONT}) == len(FONT)


def test_roundtrip_full_charset():
    s = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG 0123456789"
    assert ocr_png(render_text_png(s)) == s


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=GLYPHS.replace(" ", "") + " ", max_size=40))
def test_roundtrip_property(s):
    # interior spaces survive; the reader sees exactly what was set
    assert ocr_image(render_text(s)) == s


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=60))
def test_clean_then_render_never_raises(s):
    c = clean_ocr_text(s)
    assert ocr_image(render_text(c)) == c


def test_clean_rules():
    assert clean_ocr_text("  héllo,\tworld!!  ") == "H LLO WORLD"
    assert clean_ocr_text("a\nb\nc") == "A B C"
    assert clean_ocr_text("...") == ""
    assert clean_ocr_text("MiXeD 42") == "MIXED 42"


def test_empty_and_tiny_images():
    assert ocr_image(render_text("")) == ""
    assert ocr_png(b"not a png") == ""
    assert ocr_image(np.full((2, 2, 3), 255, np.uint8)) == ""


def test_grayscale_raster_reads_like_rgb():
    img = render_text("HELLO 42")
    assert ocr_image(img[..., 0]) == ocr_image(img) == "HELLO 42"
    with pytest.raises(ValueError, match="3-D"):
        ocr_image(img[None])


def test_unknown_glyph_reads_as_question_mark():
    img = render_text("AB")
    img[1:8, 1:6] = 0  # stamp a solid block over the first cell
    assert ocr_image(img) == "?B"


def test_resolve_ocr_fn_variants():
    bitmap = resolve_ocr_fn("bitmap")
    png = render_text_png("HI 5")
    assert bitmap(png, "image/png") == "HI 5"
    assert bitmap(png, "image/jpeg") == ""  # bitmap reader is PNG-only
    custom = resolve_ocr_fn(lambda d, ct: "X")
    assert custom(b"", "") == "X"
    by_name = resolve_ocr_fn("crawlspark.functions.ocr:bitmap_ocr_fn")
    assert by_name(png, "image/png") == "HI 5"
    with pytest.raises(ValueError):
        resolve_ocr_fn("no-colon-no-callable")
