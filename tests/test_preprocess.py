"""Gate truth tables (P1-P7) against the reference predicates
(/root/reference/app/ocr/preprocessing/steps/*.py)."""

import numpy as np
import pytest

from ocr_spark.config import PreprocessConfig
from ocr_spark.extract.glyph import extract_text, render_page
from ocr_spark.imaging.analyzer import analyze_quality, estimate_dpi
from ocr_spark.imaging.preprocess import (
    _gate_binarization,
    global_deskew_ex,
    preprocess,
)

CFG = PreprocessConfig()


def _page(lines=("hello world", "abc 123"), w=640, h=300):
    return render_page(list(lines), w, h)


def test_grayscale_gate_color():
    gray = _page()
    rgb = np.stack([gray] * 3, axis=-1)
    r = preprocess(rgb, CFG)
    assert "grayscale" in r.steps_applied and r.image.ndim == 2


def test_grayscale_gate_preserve_color_strips_alpha_only():
    gray = _page()
    rgba = np.stack([gray] * 4, axis=-1)
    cfg = PreprocessConfig(preserve_color=True, binarization_method="none")
    r = preprocess(rgba, cfg)
    assert "grayscale" in r.steps_applied and r.image.shape[2] == 3
    rgb = np.stack([gray] * 3, axis=-1)
    r2 = preprocess(rgb, cfg)
    assert "grayscale" in r2.steps_skipped  # already RGB, nothing to strip


def test_invert_gate():
    inv = (255 - _page()).astype(np.uint8)
    a = analyze_quality(inv, CFG)
    assert a.is_inverted
    r = preprocess(inv, CFG)
    assert "invert" in r.steps_applied
    # normal page must NOT invert
    assert "invert" in preprocess(_page(), CFG).steps_skipped


def test_noise_gate():
    rng = np.random.default_rng(5)
    page = _page()
    noisy = np.where(
        rng.random(page.shape) < 0.08,
        rng.integers(0, 2, page.shape).astype(np.uint8) * 255,
        page,
    ).astype(np.uint8)
    assert "noise_removal" in preprocess(noisy, CFG).steps_applied
    assert "noise_removal" in preprocess(page, CFG).steps_skipped


def test_normalization_gate_low_contrast():
    page = _page()
    lc = (100 + page.astype(np.float64) / 255 * 60).astype(np.uint8)
    a = analyze_quality(lc, CFG)
    assert a.needs_contrast_enhancement
    r = preprocess(lc, CFG)
    assert "normalization" in r.steps_applied


def test_binarization_gate_skips_binary():
    page = _page()  # pure 0/255 already -> unique <= 2 -> skip
    r = preprocess(page, CFG)
    assert "binarization" in r.steps_skipped
    # a 2-level 40/200 image is ALSO "already binary" per the reference's
    # unique-count rule (binarization.py:36-41)
    two_level = np.clip(page, 40, 200).astype(np.uint8)
    r1 = preprocess(two_level, PreprocessConfig(binarization_method="otsu"))
    assert "binarization" in r1.steps_skipped
    # >2 gray levels binarize (a brightness ramp across the page)
    grayish = _ramped(page)
    r2 = preprocess(
        grayish, PreprocessConfig(binarization_method="otsu", max_scale_factor=1.0)
    )
    assert "binarization" in r2.steps_applied
    assert set(np.unique(r2.image)).issubset({0, 255})


def test_binarization_gate_rejects_non_uint8():
    with pytest.raises(TypeError, match="uint8"):
        _gate_binarization(_page().astype(np.float64), CFG)


def _ramped(page):
    ramp = np.linspace(0, 40, page.shape[1])[None, :]
    return np.clip(page.astype(np.float64) * 0.6 + 60 + ramp, 0, 255).astype(np.uint8)


def test_binarization_none_profile():
    grayish = _ramped(_page())
    r = preprocess(grayish, PreprocessConfig(binarization_method="none"))
    assert "binarization" in r.steps_skipped


def test_scaling_gate_and_cap():
    # 640x300 -> aspect 2.13 -> dpi = 300/8 = 37 -> clamped 72 -> factor
    # 300/72 = 4.2 capped at 3.0
    page = _page()
    r = preprocess(page, CFG)
    assert "scaling" in r.steps_applied
    assert r.final_size == (640 * 3, 300 * 3)
    # max_scale_factor 1.0 disables (qari semantics, config.py:97)
    r2 = preprocess(page, PreprocessConfig(max_scale_factor=1.0))
    assert "scaling" in r2.steps_skipped


def test_estimate_dpi_paper_heuristics():
    assert estimate_dpi(827, 1169) == 100  # A4 aspect: 827/8.27
    assert estimate_dpi(850, 1100) == 100  # Letter aspect: 850/8.5
    assert estimate_dpi(800, 4000) == 100  # unknown: 800/8
    assert estimate_dpi(100, 100) == 72  # clamp low
    assert estimate_dpi(8000, 8000) == 600  # clamp high


def test_disabled_pipeline_passthrough():
    page = _page()
    r = preprocess(page, PreprocessConfig(enabled=False))
    assert r.steps_applied == [] and np.array_equal(r.image, page)


def test_global_deskew_roundtrip():
    from ocr_spark.imaging import kernels as K

    page = _page(("hello world", "abc 123", "quick brown"), 640, 400)
    rot = K.rotate_expand(page, 4.0)
    fixed, was, angle = global_deskew_ex(rot, CFG)[:3]
    assert was and abs(angle - 4.0) < 0.5
    text, conf = extract_text(fixed)
    assert text == "hello world\nabc 123\nquick brown"
    # below-threshold skew leaves the image alone (processor.py:239-241)
    same, was2, _ = global_deskew_ex(page, CFG)[:3]
    assert not was2 and same is page


def test_global_deskew_leaves_level_noisy_pages_alone():
    """Level salt-and-pepper pages whose denoised view has a flat Hough
    profile must not read as skewed; a spurious rotation makes the page
    undecodable (these seeds once did)."""
    from ocr_spark.fixtures import page_noisy

    for seed in (10, 27, 119, 255, 1711596878):
        page = page_noisy(np.random.default_rng(seed))
        _, was, angle = global_deskew_ex(page, CFG)[:3]
        assert not was, (seed, angle)
        assert abs(analyze_quality(page, CFG).skew_angle) < CFG.skew_threshold, seed
