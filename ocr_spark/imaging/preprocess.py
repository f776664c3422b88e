"""Conditional preprocessing fold: the P1-P7 gates driving the T1-T8 transforms.

The step order and every gate predicate mirror the reference pipeline
(grayscale -> invert -> noise -> deskew -> normalize -> binarize -> scale,
/root/reference/app/ocr/preprocessing/pipeline.py:94-104, fold :144-158;
gates in preprocessing/steps/*.py).  The biggest cost saver of the
reference — skipping transforms the analysis says aren't needed — lives
here, invisible to Catalyst by design (SURVEY.md §4.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ocr_spark.config import PreprocessConfig
from ocr_spark.imaging import kernels as K
from ocr_spark.imaging.analyzer import (
    AnalysisReuse,
    QualityAnalysis,
    analyze_quality,
    estimate_skew,
)

STEP_ORDER = (
    "grayscale",
    "invert",
    "noise_removal",
    "deskew",
    "normalization",
    "binarization",
    "scaling",
)


@dataclass
class PreprocessResult:
    image: np.ndarray
    original_size: tuple[int, int]
    final_size: tuple[int, int]
    analysis: QualityAnalysis
    steps_applied: list[str] = field(default_factory=list)
    steps_skipped: list[str] = field(default_factory=list)


def _gate_grayscale(img: np.ndarray, a: QualityAnalysis, cfg: PreprocessConfig) -> bool:
    # steps/grayscale.py:26-40: with preserve_color only strip alpha;
    # otherwise convert any color image
    if cfg.preserve_color:
        return img.ndim == 3 and img.shape[2] == 4
    return not a.is_grayscale


def _apply_grayscale(img: np.ndarray, cfg: PreprocessConfig) -> np.ndarray:
    if img.ndim == 2:
        return img
    if cfg.preserve_color:
        return img[..., :3].copy() if img.shape[2] == 4 else img
    return K.to_gray(img)


def _gate_normalization(img: np.ndarray, a: QualityAnalysis) -> bool:
    # steps/normalization.py:23-34: low contrast, or gray image using <80%
    # of the dynamic range
    if a.needs_contrast_enhancement:
        return True
    if img.ndim == 2:
        lo, hi = int(img.min()), int(img.max())
        return (hi - lo) / 255.0 < 0.8
    return False


def _gate_binarization(img: np.ndarray, cfg: PreprocessConfig) -> bool:
    # steps/binarization.py:31-42: configured method, skip if already binary
    K.require_u8(img, "_gate_binarization")
    if cfg.binarization_method == "none":
        return False
    # distinct-value count via bincount — ~13x cheaper than np.unique's
    # sort on page-sized images, same gate decision
    return img.ndim != 2 or (np.bincount(img.ravel(), minlength=256) > 0).sum() > 2


def _apply_binarization(img: np.ndarray, cfg: PreprocessConfig) -> np.ndarray:
    gray = img if img.ndim == 2 else K.to_gray(img)
    if cfg.binarization_method == "otsu":
        return K.binarize_otsu(gray)
    if cfg.binarization_method == "adaptive":
        if cfg.fidelity == "cv2":
            return K.binarize_adaptive_gaussian(gray)
        return K.binarize_adaptive(gray)
    return gray


def _scale_factor(a: QualityAnalysis, cfg: PreprocessConfig) -> float:
    # steps/scaling.py:30-53: upscale toward target DPI, factor in
    # [1.1, max_scale_factor]; max_scale <= 1.0 disables
    if cfg.max_scale_factor <= 1.0:
        return 0.0
    if a.estimated_dpi >= cfg.target_dpi:
        return 0.0
    factor = cfg.target_dpi / a.estimated_dpi
    if factor < 1.1:
        return 0.0
    return min(factor, cfg.max_scale_factor)


def preprocess(
    img: np.ndarray,
    cfg: PreprocessConfig,
    reuse: AnalysisReuse | None = None,
) -> PreprocessResult:
    """Run the gated preprocessing fold on one image.

    The analysis is computed once on the *input* image and drives every
    gate (pipeline.py:144-158): steps see the progressively transformed
    image but decide from the initial analysis, except gates that are
    defined on the current image (binary check, dynamic range).
    `reuse` forwards global_deskew_ex's intermediates to analyze_quality —
    only pass it when the pixels are unchanged (see AnalysisReuse).
    """
    original_size = (img.shape[1], img.shape[0])
    a = analyze_quality(img, cfg, compute_skew=cfg.auto_deskew, reuse=reuse)

    if not cfg.enabled:
        return PreprocessResult(
            image=img,
            original_size=original_size,
            final_size=original_size,
            analysis=a,
            steps_applied=[],
            steps_skipped=list(STEP_ORDER),
        )

    cur = img
    applied: list[str] = []
    skipped: list[str] = []

    def _run(name: str, gate: bool, fn):
        nonlocal cur
        if gate:
            cur = fn(cur)
            applied.append(name)
        else:
            skipped.append(name)

    denoise = (
        (lambda x: K.nlmeans_denoise(x, float(cfg.denoise_strength)))
        if cfg.fidelity == "cv2"
        else K.median3
    )
    _run("grayscale", _gate_grayscale(cur, a, cfg), lambda x: _apply_grayscale(x, cfg))
    _run("invert", cfg.auto_invert and a.is_inverted, K.invert)
    _run("noise_removal", a.needs_denoising, denoise)
    _run(
        "deskew",
        cfg.auto_deskew and a.needs_deskewing and abs(a.skew_angle) >= 0.1,
        lambda x: K.rotate_expand(x, -a.skew_angle),
    )
    _run("normalization", _gate_normalization(cur, a), K.normalize_minmax)
    _run("binarization", _gate_binarization(cur, cfg), lambda x: _apply_binarization(x, cfg))

    f = _scale_factor(a, cfg)
    if f > 0.0:
        h, w = cur.shape[:2]
        resize = K.resize_bicubic if cfg.fidelity == "cv2" else K.resize_bilinear
        cur = resize(cur, int(w * f), int(h * f))
        applied.append("scaling")
    else:
        skipped.append("scaling")

    return PreprocessResult(
        image=cur,
        original_size=original_size,
        final_size=(cur.shape[1], cur.shape[0]),
        analysis=a,
        steps_applied=applied,
        steps_skipped=skipped,
    )


def global_deskew_ex(
    img: np.ndarray, cfg: PreprocessConfig
) -> tuple[np.ndarray, bool, float, AnalysisReuse | None]:
    """Whole-page deskew applied once before splitting, so all chunks
    share alignment (the reference's global-deskew rewrite,
    processor.py:95-110,159-164,223-279), plus the analysis
    intermediates for bit-identical reuse by the passthrough chunk's
    analyze_quality (core.process_image):
    when the page is NOT rotated, the single-chunk analysis would
    recompute gray, noise and (on non-noisy pages) the very same Sobel
    over the exact same pixels. Returns (image, was_deskewed, angle,
    reuse); reuse is None whenever the pixels changed."""
    gray = img if img.ndim == 2 else K.to_gray(img)
    noise = K.estimate_noise(gray)
    angle, sobel = estimate_skew(gray, noise, cfg)
    if abs(angle) < cfg.skew_threshold:
        return img, False, angle, AnalysisReuse(gray, noise, sobel)
    return K.rotate_expand(img, -angle), True, angle, None
