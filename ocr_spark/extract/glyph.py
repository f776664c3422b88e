"""Deterministic glyph codec: the CPU-only stand-in OCR engine.

The reference's extractors are external GPU vision-LLMs
(/root/reference/app/ocr/got.py:158-201, qari.py:125-197,
deepseek.py:127-211) that cannot run here and are nondeterministic anyway.
Per SURVEY.md §7.3 we replace the model call with an exact, deterministic
pixel encoding shared by the fixture generator and the extractor:

* every text line renders as a row of 18x18 px cells;
* cell 0 is a full-height 4-px sync bar (left edge), the last cell carries
  the mirrored end bar (right edge) — together they let the decoder
  recover the cell pitch exactly even after DPI rescaling;
* each interior cell encodes one UTF-8 byte as a 3x3 patch grid (6x6 px
  slots, 4x4 px dark marks, 2 px gaps so adaptive thresholding never
  hollows a mark): patch (0,0) is an always-dark anchor, the remaining
  8 patches are the byte's bits, MSB first.

Any preprocessing mistake (wrong deskew angle, bad binarization, missed
inversion, mis-ordered chunks) corrupts the decode and fails the
span-sequence-equality gate — so extraction exercises the entire image
pipeline without a model.  Confidence = decoded lines / detected bands
(replacing the constant 0.0 of got.py:251).
"""

from __future__ import annotations

import numpy as np

from ocr_spark.imaging import kernels as K

CELL = 18  # cell pitch in px at render scale
CS = CELL // 3  # patch slot (6)
MARK = 4  # dark mark size inside a slot
BAR_W = 4  # sync bar width
MAX_BYTES_PER_LINE = 15  # keeps pitch-estimation rounding exact (n_cells <= 17)

# patch slot (row, col) for bit 7..0
_BIT_SLOTS = [(0, 1), (0, 2), (1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (2, 2)]
# sample centre of every slot the decoder reads, as a fraction of the
# cell pitch: the anchor (0, 0) first, then bits 7..0
_SAMPLE_SLOTS = np.array([(0, 0)] + _BIT_SLOTS)
_SAMPLE_FY = (3 * _SAMPLE_SLOTS[:, 0] + 1) / 9.0
_SAMPLE_FX = (3 * _SAMPLE_SLOTS[:, 1] + 1) / 9.0


# --------------------------------------------------------------------------
# rendering (fixture side)
# --------------------------------------------------------------------------


def wrap_line(text: str, max_bytes: int = MAX_BYTES_PER_LINE) -> list[str]:
    """Split a logical line into renderable lines of <= max_bytes UTF-8 bytes."""
    out: list[str] = []
    cur = ""
    cur_b = 0
    for ch in text:
        b = len(ch.encode("utf-8"))
        if cur_b + b > max_bytes and cur:
            out.append(cur)
            cur, cur_b = ch, b
        else:
            cur += ch
            cur_b += b
    if cur or not out:
        out.append(cur)
    return out


def render_line(canvas: np.ndarray, x: int, y: int, text: str, fg: int = 0) -> int:
    """Draw one glyph line; returns the line's pixel width."""
    data = text.encode("utf-8")
    if len(data) > MAX_BYTES_PER_LINE:
        raise ValueError(f"line too long ({len(data)} bytes > {MAX_BYTES_PER_LINE})")
    n_cells = len(data) + 2
    # start sync bar: full height, left edge of cell 0
    canvas[y : y + CELL, x : x + BAR_W] = fg
    for k, byte in enumerate(data, start=1):
        cx = x + k * CELL
        # anchor mark
        canvas[y : y + MARK, cx : cx + MARK] = fg
        for bit, (pr, pc) in enumerate(_BIT_SLOTS):
            if byte & (1 << (7 - bit)):
                py, px = y + pr * CS, cx + pc * CS
                canvas[py : py + MARK, px : px + MARK] = fg
    # end sync bar: full height, right edge of the last cell
    ex = x + n_cells * CELL - BAR_W
    canvas[y : y + CELL, ex : ex + BAR_W] = fg
    return n_cells * CELL


def line_width_px(text: str) -> int:
    return (len(text.encode("utf-8")) + 2) * CELL


def render_page(
    lines: list[str],
    width: int,
    height: int,
    margin: int = 24,
    line_gap: int = CELL,
    bg: int = 255,
    fg: int = 0,
    align: str = "left",
) -> np.ndarray:
    """Render glyph lines onto a gray page; lines that don't fit are dropped."""
    canvas = np.full((height, width), bg, dtype=np.uint8)
    y = margin
    for text in lines:
        if y + CELL > height - margin:
            break
        w = line_width_px(text)
        if align == "right":
            x = max(margin, width - margin - w)
        elif align == "center":
            x = max(margin, (width - w) // 2)
        else:
            x = margin
        if x + w <= width - margin + CELL:
            render_line(canvas, x, y, text, fg=fg)
        y += CELL + line_gap
    return canvas


# --------------------------------------------------------------------------
# decoding (extractor side)
# --------------------------------------------------------------------------


def _col_span(band: np.ndarray, x: int) -> tuple[int, int] | None:
    col = band[:, x]
    rows = np.flatnonzero(col)
    if rows.size == 0:
        return None
    return int(rows[0]), int(rows[-1])


def _decode_band(ink: np.ndarray, y0: int, y1: int) -> str | None:
    """Decode one line band; None = undecodable (clipped / garbage).

    Self-calibrating against rescaling and residual skew: the two
    full-height sync bars give the exact cell pitch (total ink width =
    n_cells * pitch by construction) and the band's tilt (top-of-bar y at
    each end, linearly interpolated per cell).
    """
    band = ink[y0 : y1 + 1]
    height = band.shape[0]
    # line extent from the full-height sync bars: columns whose ink count
    # is a large fraction of the band height (noise clusters and patch
    # columns don't qualify; the bars sit at the true extremes)
    col_counts = band.sum(axis=0)
    solid = np.flatnonzero(col_counts >= 0.6 * height)
    if solid.size == 0:
        return None
    x0, x1 = int(solid[0]), int(solid[-1])
    w = x1 - x0 + 1
    if w < 8:
        return None

    start_span = _col_span(band, min(x0 + 1, band.shape[1] - 1))
    end_span = _col_span(band, max(x1 - 1, 0))
    if start_span is None or end_span is None:
        return None
    # cell height = band height minus the tilt offset between the two
    # full-height sync bars (robust to noise erosion of the bar ends,
    # which shaves the per-column spans)
    tilt = abs(start_span[0] - end_span[0])
    s_y = float(height - tilt)
    if s_y < 8:
        return None

    # sync-bar validation: near-full column ink at both bar centers
    # (positions depend only on the ink extent, not the cell count)
    ry = max(1, int(s_y // 12))
    bar_half = (BAR_W / 2.0) / CELL * s_y
    rx_bar = max(1, int(bar_half // 2))
    for xc, span in ((x0 + bar_half, start_span), (x1 - bar_half, end_span)):
        xi0 = max(0, int(round(xc)) - rx_bar)
        xi1 = min(band.shape[1], int(round(xc)) + rx_bar + 1)
        if xi0 >= xi1:
            return None
        frac = float(band[span[0] : span[1] + 1, xi0:xi1].mean())
        if frac < 0.6 or (span[1] - span[0] + 1) < 0.7 * s_y:
            return None

    # tilt model: top-of-cell y interpolated between the two bars
    top_a, top_b = float(start_span[0]), float(end_span[0])

    # the bar-span cell-height estimate can be off by +-1 px, which can
    # flip the cell-count rounding; try the nearest counts — a wrong pitch
    # fails the always-dark anchor checks and is rejected
    n0 = w / s_y
    candidates = sorted(
        {int(round(n0)), int(round(n0)) - 1, int(round(n0)) + 1},
        key=lambda n: abs(n - n0),
    )
    for n in candidates:
        if n < 2 or n > MAX_BYTES_PER_LINE + 2:
            continue
        decoded = _try_decode(band, x0, w, n, s_y, top_a, top_b, ry)
        if decoded is not None:
            return decoded
    return None


def _try_decode(
    band: np.ndarray,
    x0: int,
    w: int,
    n: int,
    s_y: float,
    top_a: float,
    top_b: float,
    ry: int,
) -> str | None:
    """Decode the band as n cells of pitch w/n, or None when any cell's
    always-dark anchor patch reads light.

    All (n-2) x 9 sample windows are read in one gather: a window (the
    (2ry+1) x (2rx+1) box around the rounded sample centre, clipped to
    the band) is dark when at least half its pixels are ink. A window
    wholly outside the band reads light.
    """
    s_x = w / n  # exact pitch: ink spans exactly n cells by construction
    rx = max(1, int(s_x // 12))
    k = np.arange(1, n - 1)
    cell_x = x0 + k * s_x
    # tilt model: top-of-cell y interpolated between the two bars
    cy0 = top_a + (top_b - top_a) * ((k + 0.5) / n)
    xc = np.rint(cell_x[:, None] + _SAMPLE_FX * s_x).astype(np.int64)
    yc = np.rint(cy0[:, None] + _SAMPLE_FY * s_y).astype(np.int64)
    h, bw = band.shape
    ys = yc[:, :, None, None] + np.arange(-ry, ry + 1)[:, None]
    xs = xc[:, :, None, None] + np.arange(-rx, rx + 1)
    inside = ((ys >= 0) & (ys < h)) & ((xs >= 0) & (xs < bw))
    ink = band[np.clip(ys, 0, h - 1), np.clip(xs, 0, bw - 1)] & inside
    count = inside.sum(axis=(2, 3))
    dark = (count > 0) & (2 * ink.sum(axis=(2, 3)) >= count)
    if not dark[:, 0].all():
        return None
    data = np.packbits(dark[:, 1:], axis=1)
    return data.tobytes().decode("utf-8", errors="replace")


def extract_text(img: np.ndarray) -> tuple[str, float]:
    """Decode all glyph lines on a (preprocessed) page.

    Returns (text, confidence) where confidence is the fraction of
    detected line bands that decoded cleanly.
    """
    gray = img if img.ndim == 2 else K.to_gray(img)
    h, w = gray.shape
    if h < 5 or w < 5:
        return "", 0.0
    # direct ink mask: identical to binarize_otsu(..., invert=True) > 0
    # without materializing the intermediate uint8 plane
    ink = gray <= K.otsu_threshold(gray)

    row_ink = ink.sum(axis=1)
    is_band = row_ink >= max(2, int(0.004 * w))
    d = np.diff(np.concatenate(([0], is_band.astype(np.int8), [0])))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1) - 1

    lines: list[str] = []
    total = 0
    decoded = 0
    for y0, y1 in zip(starts, ends):
        if y1 - y0 + 1 < 5:
            continue  # too thin to be a glyph band (noise / rules)
        total += 1
        text = _decode_band(ink, int(y0), int(y1))
        if text is not None:
            decoded += 1
            lines.append(text)
    if total == 0:
        return "", 0.0
    return "\n".join(lines), decoded / total
