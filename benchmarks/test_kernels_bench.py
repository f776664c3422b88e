"""Per-layer microbenchmark: milliseconds per page for each per-span layer
of the media path, on fixed fixture pages.

Run it from the repository root (it is not part of the tests/ gate):

    python -m pytest benchmarks/ -p no:cacheprovider \
        --benchmark-json=BENCH/kernels_bench.json

Each benchmark is one layer on one page, the page classes drawn once
with a fixed seed. Each layer gets the input `core.process_image` gives
it: deskew and split see the decoded page, preprocess sees the deskewed
page with per-chunk deskew off (the whole page, also where the engine
would first split it), extract sees the preprocessed page. Timings are
7 rounds after one warm-up round; read `min` (ms per page) for
before/after comparisons.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pytest

from ocr_spark import fixtures as FX
from ocr_spark.config import get_profile
from ocr_spark.extract.glyph import extract_text
from ocr_spark.imaging import kernels as K
from ocr_spark.imaging.png import decode_png, encode_png
from ocr_spark.imaging.preprocess import global_deskew_ex, preprocess
from ocr_spark.splitting.split import smart_split

# small pages of the common classes plus one >2 MP page that splits by
# connected components
PAGES = ("clean", "skewed", "noisy", "color", "components")
PROFILE = get_profile("default")
CHUNK_CFG = replace(PROFILE.preprocess, auto_deskew=False)


def _page(name: str) -> np.ndarray:
    return dict(FX.PAGE_CLASSES)[name](np.random.default_rng(7))


@pytest.fixture(scope="module", params=PAGES)
def page(request):
    """Every layer's input for one page class."""
    img = _page(request.param)
    gray = K.to_gray(img)
    deskewed = global_deskew_ex(img, PROFILE.preprocess)[0]
    pre = preprocess(deskewed, CHUNK_CFG).image
    return {"png": encode_png(img), "img": img, "gray": gray,
            "deskewed": deskewed, "pre": pre}


def _run(benchmark, fn, *args):
    benchmark.pedantic(fn, args=args, rounds=7, warmup_rounds=1)


def test_decode(benchmark, page):
    _run(benchmark, decode_png, page["png"])


def test_estimate_noise(benchmark, page):
    _run(benchmark, K.estimate_noise, page["gray"])


def _sobel_hough(gray):
    _, horiz = K.sobel_masks(gray)
    return K.hough_skew(gray, horiz=horiz)


def test_sobel_hough(benchmark, page):
    _run(benchmark, _sobel_hough, page["gray"])


def test_global_deskew(benchmark, page):
    _run(benchmark, global_deskew_ex, page["img"], PROFILE.preprocess)


def test_smart_split(benchmark, page):
    _run(benchmark, smart_split, page["deskewed"], PROFILE.split)


def test_preprocess(benchmark, page):
    _run(benchmark, preprocess, page["deskewed"], CHUNK_CFG)


def test_extract_text(benchmark, page):
    _run(benchmark, extract_text, page["pre"])
