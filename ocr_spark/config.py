"""Configuration dataclasses for the extraction pipeline.

Semantics mirror the reference's Pydantic settings (values, gates and
defaults), re-declared as plain dataclasses that broadcast cleanly into
Spark executors via closure capture:

* preprocessing knobs .... /root/reference/app/ocr/preprocessing/base.py:58-97
                           and /root/reference/app/config.py:21-39
* splitting knobs ........ /root/reference/app/ocr/splitting/base.py:106-135
                           and /root/reference/app/config.py:7-18
* merge knobs ............ /root/reference/app/ocr/splitting/merger.py:56-74
* per-engine profiles .... /root/reference/app/config.py:85-118
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PreprocessConfig:
    enabled: bool = True
    target_dpi: int = 300
    max_scale_factor: float = 3.0
    denoise_strength: int = 10
    binarization_method: str = "adaptive"  # 'otsu' | 'adaptive' | 'none'
    auto_deskew: bool = True
    auto_invert: bool = True
    preserve_color: bool = False
    blur_threshold: float = 100.0
    noise_threshold: float = 0.1
    skew_threshold: float = 1.0
    contrast_threshold: float = 0.3
    # kernel fidelity: "fast" = numpy stand-ins shared by oracle and
    # pipeline (median3 / box-adaptive / bilinear); "cv2" = the
    # reference's exact algorithms — real OpenCV when installed,
    # faithful numpy equivalents (Keys A=-0.75 bicubic, gaussian
    # adaptive) otherwise (kernels.py cv2-fidelity section)
    fidelity: str = "fast"


@dataclass(frozen=True)
class SplitConfig:
    enabled: bool = True
    max_megapixels: float = 2.0
    max_dimension: int = 2048
    overlap_percent: float = 0.4
    min_gap_pixels: int = 10
    gap_threshold: float = 0.95
    min_chunk_size: int = 256
    target_chunk_size: int = 1024
    prefer_horizontal_splits: bool = False


@dataclass(frozen=True)
class MergeConfig:
    rtl: bool = False
    similarity_threshold: float = 0.8
    min_overlap_chars: int = 10
    section_separator: str = "\n\n"


@dataclass(frozen=True)
class EngineProfile:
    """One OCR-engine personality = preprocess + split + merge configs.

    Mirrors the per-engine dict in /root/reference/app/config.py:85-118
    ('qari' is the RTL/Arabic profile with horizontal-strip splitting and
    50% overlap; 'got'/'deepseek' use adaptive binarization defaults).
    """

    name: str = "default"
    preprocess: PreprocessConfig = field(default_factory=PreprocessConfig)
    split: SplitConfig = field(default_factory=SplitConfig)
    merge: MergeConfig = field(default_factory=MergeConfig)


_DEFAULT = EngineProfile(name="default")

_GOT = EngineProfile(
    name="got",
    preprocess=PreprocessConfig(binarization_method="adaptive", auto_deskew=True),
)

_DEEPSEEK = EngineProfile(
    name="deepseek",
    preprocess=PreprocessConfig(binarization_method="adaptive", auto_deskew=True),
)

_QARI = EngineProfile(
    name="qari",
    preprocess=PreprocessConfig(
        binarization_method="none",
        auto_deskew=True,
        auto_invert=False,
        denoise_strength=0,
        preserve_color=True,
        max_scale_factor=1.0,
    ),
    split=SplitConfig(
        max_megapixels=2.5,
        max_dimension=2560,
        min_chunk_size=512,
        target_chunk_size=1536,
        overlap_percent=0.5,
        min_gap_pixels=20,
        gap_threshold=0.98,
        prefer_horizontal_splits=True,
    ),
    merge=MergeConfig(rtl=True),
)

PROFILES: dict[str, EngineProfile] = {
    "default": _DEFAULT,
    "got": _GOT,
    "deepseek": _DEEPSEEK,
    "qari": _QARI,
}


def get_profile(name: str) -> EngineProfile:
    """Engine-name -> profile with a default fallback.

    Mirrors Settings.get_engine_config (/root/reference/app/config.py:120-131).
    """
    return PROFILES.get(name, _DEFAULT)
