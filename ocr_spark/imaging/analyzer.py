"""Image-quality analysis feeding the preprocessing gates (A1-A8).

One pass computes every metric used by the conditional-apply predicates,
mirroring ImageQualityAnalyzer.analyze
(/root/reference/app/ocr/preprocessing/analyzer.py:29-93).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ocr_spark.config import PreprocessConfig
from ocr_spark.imaging import kernels as K


@dataclass(frozen=True)
class QualityAnalysis:
    width: int
    height: int
    is_grayscale: bool
    blur_score: float
    noise_level: float
    skew_angle: float
    contrast_ratio: float
    brightness: float
    estimated_dpi: int
    has_text: bool
    is_inverted: bool
    needs_denoising: bool
    needs_deskewing: bool
    needs_contrast_enhancement: bool


def estimate_dpi(width: int, height: int) -> int:
    """Aspect-ratio -> A4/Letter paper-width DPI heuristic, clamped [72,600].

    Same decision table as analyzer.py:180-214 (A4 if aspect in (1.35,1.50),
    Letter if (1.25,1.35), else smaller_dim/8).
    """
    larger = max(width, height)
    smaller = min(width, height)
    aspect = larger / smaller if smaller > 0 else 1.0
    if 1.35 < aspect < 1.50:
        dpi = int(smaller / 8.27)
    elif 1.25 < aspect < 1.35:
        dpi = int(smaller / 8.5)
    else:
        dpi = int(smaller / 8.0)
    return max(72, min(600, dpi))


@dataclass(frozen=True)
class AnalysisReuse:
    """Intermediates computed by global_deskew, valid ONLY while the image
    pixels are provably unchanged (no rotation applied and the analyzed
    chunk is the whole page object). Reuse is bit-identical by
    construction — the same kernel functions over the same pixels — so
    the oracle/pipeline equality contract is unaffected."""

    gray: np.ndarray
    noise_level: float
    sobel: tuple[np.ndarray, np.ndarray] | None  # sobel_masks(gray)


def analyze_quality(
    img: np.ndarray,
    cfg: PreprocessConfig,
    compute_skew: bool = True,
    reuse: AnalysisReuse | None = None,
) -> QualityAnalysis:
    """One analysis pass; `compute_skew=False` skips the Hough transform
    (used for per-chunk analysis where deskew is force-disabled —
    processor.py:103 — so the angle would be dead weight). `reuse` hands
    back the gray/noise/Sobel a preceding global_deskew computed on the
    same pixels (see AnalysisReuse)."""
    is_gray = img.ndim == 2
    if reuse is not None:
        # a reuse computed from different pixels would silently diverge
        # the analysis and break span-sequence equality — fail loudly on
        # the cheap observable mismatches (ADVICE r3)
        if (
            reuse.gray.ndim != 2
            or reuse.gray.shape != (img.shape[0], img.shape[1])
            or reuse.gray.dtype != np.uint8
        ):
            raise ValueError(
                f"AnalysisReuse gray {reuse.gray.shape}/{reuse.gray.dtype} "
                f"does not match image {img.shape[:2]}"
            )
        gray = reuse.gray
        noise_level = reuse.noise_level
    else:
        gray = img if is_gray else K.to_gray(img)
        noise_level = K.estimate_noise(gray)
    height, width = gray.shape

    blur_score = K.laplacian_var(gray)

    # one Sobel pass feeds the edge mask (A7/A8) and the Hough estimate (A3)
    if reuse is not None and reuse.sobel is not None:
        edges, horiz = reuse.sobel
    else:
        edges, horiz = K.sobel_masks(gray)
    if not compute_skew:
        skew_angle = 0.0
    elif noise_level > cfg.noise_threshold:
        # salt-and-pepper noise floods the near-horizontal edge set with
        # spurious gradient points and biases the accumulator peak (a
        # noisy-but-level page can read as ~1.3 deg and get rotated into
        # undecodability), so estimate on the same denoised view the
        # noise_removal step will hand to downstream stages
        skew_angle = K.hough_skew(K.median3(gray), peak_lobe_only=True)
    else:
        skew_angle = K.hough_skew(gray, horiz=horiz)

    gmin, gmax = float(gray.min()), float(gray.max())
    contrast = 0.0 if (gmax + gmin) == 0 else (gmax - gmin) / (gmax + gmin)
    brightness = float(gray.mean() / 255.0)
    dpi = estimate_dpi(width, height)

    edge_density = float(edges.sum()) / edges.size
    has_text = 0.01 < edge_density < 0.3

    # inverted = edge pixels noticeably brighter than the background
    # (analyzer.py:231-245)
    if edges.any():
        edge_intensity = float(gray[edges].mean())
        non_edge = gray[~edges]
        background = float(non_edge.mean()) if non_edge.size else 128.0
    else:
        edge_intensity, background = 128.0, 128.0
    is_inverted = edge_intensity > background + 30.0

    return QualityAnalysis(
        width=width,
        height=height,
        is_grayscale=is_gray,
        blur_score=blur_score,
        noise_level=noise_level,
        skew_angle=skew_angle,
        contrast_ratio=contrast,
        brightness=brightness,
        estimated_dpi=dpi,
        has_text=has_text,
        is_inverted=is_inverted,
        needs_denoising=noise_level > cfg.noise_threshold,
        needs_deskewing=abs(skew_angle) > cfg.skew_threshold,
        needs_contrast_enhancement=contrast < cfg.contrast_threshold,
    )
