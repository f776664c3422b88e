import numpy as np
import pytest

from ocr_spark.extract.glyph import (
    MAX_BYTES_PER_LINE,
    extract_text,
    render_page,
    wrap_line,
)
from ocr_spark.imaging import kernels as K

LINES = ["hello world", "abc 123", "quick brown"]
EXPECTED = "\n".join(LINES)


def _page():
    return render_page(LINES, 640, 400)


def test_plain_roundtrip():
    text, conf = extract_text(_page())
    assert text == EXPECTED and conf == 1.0


def test_utf8_roundtrip():
    lines = ["héllo", "كتاب1", "日本2"]
    page = render_page(lines, 640, 400)
    text, conf = extract_text(page)
    assert text == "\n".join(lines) and conf == 1.0


@pytest.mark.parametrize("f", [1.15, 1.7, 2.07, 3.0, 300 / 72])
def test_scaled_roundtrip(f):
    page = _page()
    up = K.resize_bilinear(page, int(640 * f), int(400 * f))
    text, conf = extract_text(up)
    assert text == EXPECTED and conf == 1.0


@pytest.mark.parametrize("angle", [-8.0, -3.0, 2.2, 6.0])
def test_skew_correct_then_decode(angle):
    rot = K.rotate_expand(_page(), angle)
    det = K.hough_skew(rot)
    fixed = K.rotate_expand(rot, -det)
    text, conf = extract_text(fixed)
    assert text == EXPECTED and conf == 1.0


def test_binarized_roundtrip():
    for fn in (K.binarize_otsu, K.binarize_adaptive):
        text, conf = extract_text(fn(_page()))
        assert text == EXPECTED and conf == 1.0


def test_uncorrected_skew_fails():
    # the decoder must be SENSITIVE to preprocessing mistakes: an
    # uncorrected 6-degree skew cannot decode cleanly (SURVEY.md §7.3)
    rot = K.rotate_expand(_page(), 6.0)
    text, conf = extract_text(rot)
    assert text != EXPECTED


def test_empty_and_blank():
    assert extract_text(np.full((50, 50), 255, dtype=np.uint8)) == ("", 0.0)
    assert extract_text(np.zeros((3, 3), dtype=np.uint8)) == ("", 0.0)


def test_wrap_line():
    assert wrap_line("a" * 40) == ["a" * 15, "a" * 15, "a" * 10]
    assert wrap_line("") == [""]
    # utf-8 aware: arabic chars are 2 bytes
    parts = wrap_line("كتاب" * 5)
    assert all(len(p.encode("utf-8")) <= MAX_BYTES_PER_LINE for p in parts)


def test_too_long_line_raises():
    with pytest.raises(ValueError):
        render_page(["x" * (MAX_BYTES_PER_LINE + 1)], 800, 100)


def test_partial_band_is_skipped_not_garbage():
    page = _page()
    # cut vertically through the middle of the lines: bands lose a sync bar
    clipped = page[:, : page.shape[1] // 4]
    text, conf = extract_text(clipped)
    assert conf < 1.0


# --------------------------------------------------------------------------
# _try_decode parity: the one-gather decoder against the per-sample loop
# it replaces, on every candidate pitch extract_text tries
# --------------------------------------------------------------------------


def _ref_sample(ink, yc, xc, ry, rx):
    h, w = ink.shape
    y0, y1 = max(0, int(round(yc)) - ry), min(h, int(round(yc)) + ry + 1)
    x0, x1 = max(0, int(round(xc)) - rx), min(w, int(round(xc)) + rx + 1)
    if y0 >= y1 or x0 >= x1:
        return 0.0
    return float(ink[y0:y1, x0:x1].mean())


def _ref_try_decode(band, x0, w, n, s_y, top_a, top_b, ry):
    from ocr_spark.extract.glyph import _BIT_SLOTS

    s_x = w / n
    rx = max(1, int(s_x // 12))
    data = bytearray()
    for k in range(1, n - 1):
        cell_x = x0 + k * s_x
        cy0 = top_a + (top_b - top_a) * ((k + 0.5) / n)
        if _ref_sample(band, cy0 + (1.0 / 9.0) * s_y, cell_x + (1.0 / 9.0) * s_x, ry, rx) < 0.5:
            return None
        byte = 0
        for bit, (pr, pc) in enumerate(_BIT_SLOTS):
            xc = cell_x + ((3 * pc + 1) / 9.0) * s_x
            yc = cy0 + ((3 * pr + 1) / 9.0) * s_y
            if _ref_sample(band, yc, xc, ry, rx) >= 0.5:
                byte |= 1 << (7 - bit)
        data.append(byte)
    return data.decode("utf-8", errors="replace")


def _parity_pages():
    from ocr_spark import fixtures as FX

    page = _page()
    utf8 = render_page(["héllo", "كتاب1", "日本2"], 640, 400)
    pages = [page, utf8]
    for f in (1.15, 1.7, 2.07, 300 / 72, 0.83):
        pages.append(K.resize_bilinear(page, int(640 * f), int(400 * f)))
    for angle in (-8.0, -3.0, 2.2, 6.0):
        rot = K.rotate_expand(utf8, angle)
        pages.append(rot)  # uncorrected: mostly failing candidates
        pages.append(K.rotate_expand(rot, -K.hough_skew(rot)))
    for name in ("noisy", "low_dpi", "rtl"):
        pages.append(K.to_gray(dict(FX.PAGE_CLASSES)[name](np.random.default_rng(8))))
    return pages


def test_try_decode_matches_per_sample_loop(monkeypatch):
    from ocr_spark.extract import glyph as G

    fast = G._try_decode
    calls = {"n": 0, "decoded": 0}

    def both(*args):
        got = fast(*args)
        assert got == _ref_try_decode(*args), args[1:]
        calls["n"] += 1
        calls["decoded"] += got is not None
        return got

    monkeypatch.setattr(G, "_try_decode", both)
    for page in _parity_pages():
        extract_text(page)
    # both outcomes exercised, on many bands
    assert calls["n"] > 40 and 0 < calls["decoded"] < calls["n"]


def test_try_decode_matches_loop_on_random_bands():
    """Random ink and geometry, with sample windows clipped by the band's
    edges (even-sized windows, exact half-ink ties) or wholly outside it
    (empty windows read as light)."""
    from ocr_spark.extract.glyph import _try_decode

    rng = np.random.default_rng(12)
    decoded = 0
    for _ in range(400):
        h, w = rng.integers(4, 40), rng.integers(8, 160)
        band = rng.random((h, w)) < rng.uniform(0.5, 0.97)
        n = int(rng.integers(2, 6))
        args = (band, int(rng.integers(-10, w)), int(rng.integers(8, 2 * w)), n,
                float(rng.uniform(4, 2 * h)), float(rng.uniform(-h, h)),
                float(rng.uniform(-h, h)), int(rng.integers(1, 4)))
        got = _try_decode(*args)
        assert got == _ref_try_decode(*args), args[1:]
        decoded += got is not None
    assert 40 < decoded < 360
