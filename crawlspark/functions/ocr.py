"""Deterministic bitmap-font OCR: the image-only-document text slot.

The reference importer hands image-only documents to Tika's
TesseractOCRParser (importer DefaultParser.java OCR path) — Tesseract
binaries can't live in this container, so crawlspark's parser exposes
an injectable ``ocr_fn`` slot (the translator-client pattern:
callable or lazily-imported "module:attr", a real engine drops in
per-executor), and THIS module is the in-container implementation
that does real pixel work end to end: a 5x7 bitmap-font renderer and
a fixed-pitch template-matching reader over spec-conformant PNG bytes
(the vendored pure-Python codec in pngcodec.py). Render -> encode ->
decode -> glyph segmentation -> text executes everywhere with zero
native dependencies, deterministically — so the OCR path is CI-gated
on real image bytes rather than skipped.

All glyphs are 5 px wide x 7 px tall on a 1 px tracking grid; the
reader recovers the glyph count from the image width, extracts each
cell, and matches its row bitmasks exactly (fixed-pitch OCR-font
reading — the same contract OCR-A/OCR-B were designed for).
"""

from __future__ import annotations

import re

import numpy as np

from .pngcodec import decode_png, encode_png

FONT_W = 5
FONT_H = 7
TRACK = 1  # blank columns between glyphs
PAD = 1  # blank border on all four sides

# 5x7 row bitmasks, MSB = leftmost pixel column.
FONT: dict[str, tuple[int, ...]] = {
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b11110),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b11011, 0b10001),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00110, 0b01000, 0b10000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
    " ": (0, 0, 0, 0, 0, 0, 0),
}

# exact-match reader table; FONT must be collision-free for the
# roundtrip contract to hold (asserted in tests)
_READ: dict[tuple[int, ...], str] = {v: k for k, v in FONT.items()}

_NON_GLYPH = re.compile(r"[^A-Za-z0-9 ]")
_MULTI_SPACE = re.compile(r" +")


def clean_ocr_text(s: str) -> str:
    """Project arbitrary text onto the renderable charset: non-glyph
    chars (incl. all whitespace variants) become spaces, runs
    collapse, ends trim, letters uppercase. ASCII-only class BEFORE
    upper() so no locale/unicode uppercasing can diverge between
    engines restating this rule in SQL."""
    return _MULTI_SPACE.sub(" ", _NON_GLYPH.sub(" ", s)).strip().upper()


def render_text(text: str) -> np.ndarray:
    """Cleaned text -> (h, w, 3) uint8 RGB raster: black glyphs on
    white, fixed pitch FONT_W+TRACK, PAD border. Raises KeyError on a
    char outside the font (callers clean first)."""
    n = len(text)
    w = 2 * PAD + n * (FONT_W + TRACK) - (TRACK if n else 0)
    h = 2 * PAD + FONT_H
    img = np.full((h, max(w, 1), 3), 255, dtype=np.uint8)
    for i, ch in enumerate(text):
        rows = FONT[ch]
        x0 = PAD + i * (FONT_W + TRACK)
        for r, mask in enumerate(rows):
            for c in range(FONT_W):
                if mask & (1 << (FONT_W - 1 - c)):
                    img[PAD + r, x0 + c] = 0
    return img


def render_text_png(text: str) -> bytes:
    """Cleaned text -> real PNG bytes (vendored encoder)."""
    return encode_png(render_text(text))


def ocr_image(img: np.ndarray) -> str:
    """(h, w, channels) or (h, w) grayscale uint8 raster -> text by
    fixed-pitch template match. Unmatched glyph cells read as '?'
    (never silently dropped)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    elif img.ndim != 3:
        raise ValueError(
            f"ocr_image expects a 2-D or 3-D raster, got {img.ndim}-D"
        )
    h, w = img.shape[0], img.shape[1]
    if h < 2 * PAD + FONT_H:
        return ""
    n = (w - 2 * PAD + TRACK) // (FONT_W + TRACK)
    ink = img[..., :3].mean(axis=2) < 128
    out = []
    for i in range(n):
        x0 = PAD + i * (FONT_W + TRACK)
        cell = ink[PAD:PAD + FONT_H, x0:x0 + FONT_W]
        rows = tuple(
            int("".join("1" if v else "0" for v in row), 2)
            for row in cell
        )
        out.append(_READ.get(rows, "?"))
    return "".join(out)


def ocr_png(data: bytes) -> str:
    """PNG bytes -> text (decode via the vendored codec, then match).
    Undecodable bytes read as '' — the parser's binary-leaf rule."""
    try:
        img = decode_png(bytes(data))
    except Exception:
        return ""
    return ocr_image(img)


def bitmap_ocr_fn(data: bytes, content_type: str) -> str:
    """The in-container (data, content_type) OCR callable: reads PNG
    payloads with the bitmap matcher, reports '' for anything else.
    Addressable as "crawlspark.functions.ocr:bitmap_ocr_fn"."""
    return ocr_png(data) if content_type == "image/png" else ""


def resolve_ocr_fn(spec) -> "callable":
    """The injectable-slot resolver (translator-client pattern):
    a callable passes through; "module:attr" imports lazily on the
    executor; the string "bitmap" selects the in-container reader.
    The resolved callable takes (data: bytes, content_type: str) and
    returns the recognized text ('' when it can't read).

    A "module:attr" spec imports and runs arbitrary code with no
    check, so it must come from trusted configuration only."""
    if callable(spec):
        return spec
    if spec == "bitmap":
        return bitmap_ocr_fn
    if isinstance(spec, str) and ":" in spec:
        mod, attr = spec.split(":", 1)
        import importlib

        return getattr(importlib.import_module(mod), attr)
    raise ValueError(
        "ocr_fn must be a callable, 'bitmap', or 'module:attr'"
    )
