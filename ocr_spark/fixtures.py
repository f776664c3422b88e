"""Deterministic synthetic corpus generator (seed=42) per FIXTURES.md.

Builds the `documents` (doc_id, spans[]) and `media` (media_ref, png,
width, height) tables whose image population forces every reference code
path: skew (A3/global deskew), noise (P3), low contrast (P5), inversion
(P2), color (P1), low DPI (P7), projection/components/grid splitting
(X1-X3), RTL strips, multi-page pdf spans, invalid payloads (skip path),
and skew-monster docs (salting).  Text spans mix main content with
boilerplate blocks with known ground truth.

Everything is a pure function of (seed, n_docs) — the oracle and the
Spark pipeline consume identical bytes.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

import numpy as np

from ocr_spark.extract.glyph import CELL, line_width_px, render_page, wrap_line
from ocr_spark.imaging import kernels as K
from ocr_spark.imaging.png import encode_png
from ocr_spark.pdfio import encode_pdf

_WORDS = (
    "spark arrow batch vector column parquet shuffle join filter scan page "
    "glyph table stream window merge sort hash agg plan stage task executor "
    "codec span chunk pixel deskew invert noise gap grid row"
).split()

_AR_WORDS = ["كتاب", "نص", "صفحة", "سطر", "كلمة", "فقرة", "مستند", "حرف"]
_DIACRITICS = ["ً", "َ", "ِ", "ّ"]


def _words(rng: np.random.Generator, n: int, tag: str) -> str:
    picks = rng.integers(0, len(_WORDS), size=n)
    return " ".join([tag] + [_WORDS[i] for i in picks])


def _glyph_lines(rng: np.random.Generator, n_lines: int, tag: str, max_chars: int = 13) -> list[str]:
    """Unique short lines (<=15 utf-8 bytes incl. tag) for glyph rendering."""
    out = []
    for i in range(n_lines):
        w = _WORDS[int(rng.integers(0, len(_WORDS)))]
        line = f"{tag}{i} {w}"[:max_chars]
        out.append(line)
    return out


# --------------------------------------------------------------------------
# page classes (FIXTURES.md §2 table)
# --------------------------------------------------------------------------


def page_clean(rng) -> np.ndarray:
    lines = _glyph_lines(rng, int(rng.integers(4, 8)), "c")
    return render_page(lines, width=400, height=360)


def page_skewed(rng) -> np.ndarray:
    angle = float(rng.uniform(1.8, 8.0)) * (1 if rng.integers(0, 2) else -1)
    lines = _glyph_lines(rng, int(rng.integers(4, 7)), "s")
    page = render_page(lines, width=400, height=340)
    return K.rotate_expand(page, angle)


def page_noisy(rng) -> np.ndarray:
    lines = _glyph_lines(rng, int(rng.integers(4, 7)), "n")
    page = render_page(lines, width=400, height=340)
    # salt-and-pepper at 8% pushes the median local std above the 0.1 gate
    # (analyzer.py:105-121); 3x3 median removes it cleanly
    mask = rng.random(page.shape) < 0.08
    flips = rng.integers(0, 2, size=page.shape).astype(np.uint8) * 255
    page = np.where(mask, flips, page).astype(np.uint8)
    return page


def page_low_contrast(rng) -> np.ndarray:
    lines = _glyph_lines(rng, int(rng.integers(4, 7)), "l")
    page = render_page(lines, width=400, height=340)
    # compress intensities into [100, 160] -> contrast < 0.3 triggers P5
    return (100 + (page.astype(np.float64) / 255.0) * 60).astype(np.uint8)


def page_inverted(rng) -> np.ndarray:
    lines = _glyph_lines(rng, int(rng.integers(4, 7)), "i")
    page = render_page(lines, width=400, height=340)
    return (255 - page).astype(np.uint8)


def page_color(rng) -> np.ndarray:
    lines = _glyph_lines(rng, int(rng.integers(4, 7)), "k")
    gray = render_page(lines, width=400, height=340)
    # tinted RGB (occasionally RGBA) background
    rgb = np.stack([gray, np.clip(gray, 0, 235), np.clip(gray, 0, 245)], axis=-1)
    if rng.integers(0, 2):
        alpha = np.full(gray.shape, 255, dtype=np.uint8)
        return np.concatenate([rgb, alpha[..., None]], axis=-1)
    return rgb


def page_low_dpi(rng) -> np.ndarray:
    # A4 aspect (1.414) with small width -> estimated_dpi << 300 -> P7 scaling
    lines = _glyph_lines(rng, int(rng.integers(3, 6)), "d", max_chars=10)
    return render_page(lines, width=400, height=566, margin=20)


def page_projection(rng) -> np.ndarray:
    """>2 MP, full-width whitespace gaps between lines -> ProjectionSplitter
    (X1): target 2 chunks, one horizontal cut at the gap nearest mid-page."""
    lines = _glyph_lines(rng, 46, "p")
    # centered lines of varying width keep the glyph slot-gap columns
    # unaligned, so no spurious vertical projection gaps appear
    return render_page(
        lines, width=1200, height=1900, margin=40, line_gap=18, align="center"
    )


def page_components(rng) -> np.ndarray:
    """>2 MP with no usable projection gaps (8 px line pitch inside blocks,
    a dashed rule crossing each inter-block band) but cleanly separated
    component blocks -> ComponentSplitter (X2)."""
    from ocr_spark.extract.glyph import render_line

    w, h = 1200, 1900
    canvas = np.full((h, w), 255, dtype=np.uint8)
    y = 60
    for blk in range(4):
        for i in range(12):
            text = f"m{blk}{i} {_WORDS[int(rng.integers(0, len(_WORDS)))]}"[:13]
            if y + CELL < h - 60:
                render_line(canvas, 60, y, text)
            y += CELL + 8
        # dashed ornament rows filling the inter-block band: 3x1 dashes,
        # 14 px horizontal pitch (dilated 11x9 boxes stay separate and at
        # 99 px^2 < 100 get filtered from X2's regions), 10 px vertical
        # pitch (no smoothed projection run below the gap threshold ever
        # reaches min_gap_pixels) -> projection sees no gap, components
        # sees a clean occupancy gap
        for yy in range(y + 1, y + 122, 10):
            if yy < h - 60:
                for xx in range(60, w - 60 - 3, 14):
                    canvas[yy : yy + 1, xx : xx + 3] = 0
        y += 130
    return canvas


def page_grid(rng) -> np.ndarray:
    """>2 MP, tight 8 px line pitch everywhere and centered content (so both
    column chunks see whole lines) -> GridSplitter with 40% overlap +
    exact-overlap dedup (X3/M2)."""
    lines = _glyph_lines(rng, 100, "g")
    return render_page(lines, width=800, height=2820, margin=30, line_gap=8, align="center")


def page_rtl(rng) -> np.ndarray:
    """Arabic text with diacritics, right-aligned (qari profile, RTL merge)."""
    lines = []
    for i in range(int(rng.integers(4, 8))):
        word = _AR_WORDS[int(rng.integers(0, len(_AR_WORDS)))]
        mark = _DIACRITICS[int(rng.integers(0, len(_DIACRITICS)))]
        # keep <= 15 utf-8 bytes: arabic chars are 2 bytes each
        line = f"{word[:3]}{mark}{i % 10}"
        lines.append(line)
    return render_page(lines, width=420, height=340, align="right")


PAGE_CLASSES = [
    ("clean", page_clean),
    ("skewed", page_skewed),
    ("noisy", page_noisy),
    ("low_contrast", page_low_contrast),
    ("inverted", page_inverted),
    ("color", page_color),
    ("low_dpi", page_low_dpi),
    ("projection", page_projection),
    ("components", page_components),
    ("grid", page_grid),
    ("rtl", page_rtl),
]

# weights: big pages are expensive — keep them a minority
_CLASS_WEIGHTS = np.array([22, 14, 10, 10, 10, 10, 8, 5, 4, 3, 4], dtype=np.float64)
_CLASS_WEIGHTS /= _CLASS_WEIGHTS.sum()


# --------------------------------------------------------------------------
# text spans with known boilerplate ground truth
# --------------------------------------------------------------------------


def make_text_span(rng: np.random.Generator, tag: str) -> str:
    """Main-content paragraphs mixed with boilerplate blocks."""
    blocks = []
    for b in range(int(rng.integers(1, 5))):
        roll = int(rng.integers(0, 10))
        if roll < 6:  # main content: sentence-like, stopword-rich
            body = _words(rng, int(rng.integers(8, 25)), tag)
            blocks.append(f"The {body} and it is done.")
        elif roll < 8:  # nav-link list: high link density
            n = int(rng.integers(3, 7))
            blocks.append(
                " ".join(f"item{i} https://example.com/{tag}/{i}" for i in range(n))
            )
        elif roll < 9:  # copyright footer
            blocks.append(f"© 2024 {tag} Corp All Rights Reserved")
        else:  # short shouty header
            blocks.append(f"SECTION {tag.upper()} {b}")
    return "\n\n".join(blocks)


# --------------------------------------------------------------------------
# corpus assembly
# --------------------------------------------------------------------------


def build_corpus(n_docs: int = 100, seed: int = 42, skew_monster_spans: int = 120):
    """Returns (documents, media) as plain-Python lists of dicts.

    documents: {doc_id, spans:[{kind,text,media_ref,offset}]}
    media:     {media_ref, png (bytes), width, height}
    """
    rng = np.random.default_rng(seed)
    media: list[dict] = []
    docs: list[dict] = []
    media_idx = 0

    def _new_media(arr: np.ndarray) -> str:
        nonlocal media_idx
        ref = f"med_{media_idx:08d}"
        media_idx += 1
        h, w = arr.shape[:2]
        media.append(
            {"media_ref": ref, "png": encode_png(arr), "width": w, "height": h}
        )
        return ref

    def _random_page_ref(small_only: bool = False) -> str:
        if small_only:
            # skip the three expensive >2MP classes
            weights = _CLASS_WEIGHTS.copy()
            weights[7:10] = 0
            weights /= weights.sum()
        else:
            weights = _CLASS_WEIGHTS
        ci = int(rng.choice(len(PAGE_CLASSES), p=weights))
        _, fn = PAGE_CLASSES[ci]
        return _new_media(fn(rng))

    for d in range(n_docs):
        doc_id = f"doc_{d:08d}"
        spans: list[dict] = []
        roll = int(rng.integers(0, 100))

        def _text(off: int) -> dict:
            return {
                "kind": "text",
                "text": make_text_span(rng, f"{doc_id[-3:]}x{off}"),
                "media_ref": "",
                "offset": off,
            }

        def _media_span(off: int, small_only: bool = False) -> dict:
            return {
                "kind": "media",
                "text": "",
                "media_ref": _random_page_ref(small_only),
                "offset": off,
            }

        if roll < 60:  # text-only
            for off in range(int(rng.integers(1, 9))):
                spans.append(_text(off))
        elif roll < 85:  # interleaved
            n = int(rng.integers(2, 13))
            for off in range(n):
                if off % 2 == 0:
                    spans.append(_text(off))
                else:
                    spans.append(_media_span(off, small_only=bool(rng.integers(0, 2))))
        elif roll < 95:  # media-heavy
            for off in range(int(rng.integers(1, 7))):
                spans.append(_media_span(off))
        elif roll < 99:  # pdf doc
            n_pages = int(rng.integers(2, 6))
            # base pages are stored at 72 dpi; render_pages zooms x(300/72),
            # so keep them small enough that the rendered page skips the
            # splitter (pdf_service.py:106-109 zoom semantics)
            pages = [
                render_page(
                    _glyph_lines(rng, int(rng.integers(2, 5)), f"f{p}", max_chars=8),
                    width=220,
                    height=190,
                    margin=12,
                )
                for p in range(n_pages)
            ]
            data = encode_pdf(pages, {"title": f"{doc_id} report", "author": "fixture"})
            ref = f"med_{media_idx:08d}"
            media_idx += 1
            media.append(
                {"media_ref": ref, "png": data, "width": 0, "height": 0}
            )
            spans.append({"kind": "pdf", "text": "", "media_ref": ref, "offset": 0})
            spans.append(_text(1))
        else:  # skew monster: one doc with many small media spans
            for off in range(skew_monster_spans):
                spans.append(_media_span(off, small_only=True))

        # planted edge cases on a deterministic cadence
        if d % 17 == 3:
            spans = []  # empty spans array
        elif d % 17 == 5:
            spans = [{"kind": "text", "text": "", "media_ref": "", "offset": 0}]
        elif d % 17 == 7 and spans:
            # invalid media_ref -> must count as skipped, not crash
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": "med_missing_ref",
                    "offset": len(spans),
                }
            )
        elif d % 17 == 9 and spans:
            # media_ref pointing at an empty/broken payload
            ref = f"med_{media_idx:08d}"
            media_idx += 1
            media.append({"media_ref": ref, "png": b"not-a-png", "width": 0, "height": 0})
            spans.append(
                {"kind": "media", "text": "", "media_ref": ref, "offset": len(spans)}
            )

        docs.append({"doc_id": doc_id, "spans": spans})

    return docs, media


# --------------------------------------------------------------------------
# cached fixture tables under the temp dir
# --------------------------------------------------------------------------

def cached_dir(name: str, build: Callable[[str], None]) -> str:
    """``<tempdir>/name``, built once by ``build(dir)`` and reused.

    The build runs in a private dir that is renamed into place (atomic on
    one filesystem) after a ``_done`` marker is written, so a process
    racing here never reads a half-written table: the first rename wins
    and a losing builder discards its (byte-identical) build. A build
    that raises leaves no final dir behind."""
    d = os.path.join(tempfile.gettempdir(), name)
    if os.path.exists(os.path.join(d, "_done")):
        return d
    tmp = tempfile.mkdtemp(prefix=f"{name}.build.", dir=os.path.dirname(d))
    try:
        build(tmp)
        with open(os.path.join(tmp, "_done"), "w") as f:
            f.write("ok")
        try:
            os.rename(tmp, d)
        except OSError:
            if not os.path.exists(os.path.join(d, "_done")):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _write_payloads(path: str, rows: list[dict]) -> None:
    """(media_ref, png) rows -> one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("media_ref", pa.string()), ("png", pa.binary())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


# --------------------------------------------------------------------------
# video fixture table (uncompressed DIB AVIs for the real no-PyAV path)
# --------------------------------------------------------------------------

VIDEO_TABLE_N = 24
VIDEO_VERSION = "v1"


def build_video_rows(n: int = VIDEO_TABLE_N, seed: int = 42) -> list[dict]:
    """Deterministic uncompressed-AVI payloads (media_ref, png) — the
    payload column keeps the generic binary-column name `png` per the
    multimodal UDF contract. Each video: seeded base frame, 4-9 frames
    of deterministic roll + brightness-step motion, sizes including
    non-multiple-of-4 widths (exercising DIB row padding). Two planted
    bad payloads pin the typed-failure paths: a truncated AVI (dropped
    row) and a non-RIFF payload (single-frame stand-in row)."""
    from ocr_spark.aviio import encode_avi_gray

    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        h = int(rng.integers(16, 40))
        w = int(rng.integers(17, 49))
        nf = int(rng.integers(4, 10))
        base = rng.integers(0, 256, (h, w), dtype=np.uint8)
        frames = [
            ((np.roll(base, 3 * k, axis=1).astype(np.int16) + 5 * k) % 256).astype(
                np.uint8
            )
            for k in range(nf)
        ]
        rows.append(
            {"media_ref": f"vid_{i:04d}", "png": encode_avi_gray(frames, fps=5)}
        )
    rows.append({"media_ref": "vid_bad_trunc", "png": rows[0]["png"][:50]})
    rows.append(
        {"media_ref": "vid_bad_codec", "png": b"\x00\x00\x00 ftypisom" + b"\x00" * 64}
    )
    return rows


def video_table_dir() -> str:
    """Deterministic video-fixture table (videos.parquet), cached per
    version."""
    return cached_dir(
        f"ocr_spark_videos_{VIDEO_VERSION}_n{VIDEO_TABLE_N}",
        lambda d: _write_payloads(f"{d}/videos.parquet", build_video_rows()),
    )


AUDIO_TABLE_N = 16
AUDIO_VERSION = "v1"


def build_audio_rows(n: int = AUDIO_TABLE_N, seed: int = 42) -> list[dict]:
    """Deterministic PCM16 WAV payloads (media_ref, png) — the stdlib
    `wave` fallback decodes these for real in this container (soundfile
    when installed). Seeded sine + noise mixes at varying rates/lengths,
    one stereo payload (mono-averaged by the decoder), one zero-frame
    WAV (rms must be 0.0, not NaN), one non-audio payload (typed
    decode_ok=false row)."""
    import io
    import wave

    def wav(samples: np.ndarray, rate: int, channels: int = 1) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        rate = int(rng.choice([8000, 16000, 22050]))
        nsamp = int(rng.integers(400, 4000))
        t = np.arange(nsamp)
        freq = float(rng.uniform(100, 1000))
        sig = 12000 * np.sin(2 * np.pi * freq * t / rate) + rng.normal(
            0, 800, nsamp
        )
        rows.append(
            {
                "media_ref": f"aud_{i:04d}",
                "png": wav(np.clip(sig, -32768, 32767), rate),
            }
        )
    stereo = np.stack(
        [np.full(600, 8000), np.full(600, -4000)], axis=1
    ).reshape(-1)
    rows.append({"media_ref": "aud_stereo", "png": wav(stereo, 8000, channels=2)})
    rows.append({"media_ref": "aud_empty", "png": wav(np.zeros(0), 8000)})
    rows.append({"media_ref": "aud_bad", "png": b"not audio at all"})
    return rows


def audio_table_dir() -> str:
    """Deterministic audio-fixture table (audio.parquet), cached per
    version."""
    return cached_dir(
        f"ocr_spark_audio_{AUDIO_VERSION}_n{AUDIO_TABLE_N}",
        lambda d: _write_payloads(f"{d}/audio.parquet", build_audio_rows()),
    )
