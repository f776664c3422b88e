"""Content-aware page splitting (the reference's XY-cut "partitioner").

Strategy cascade: projection-profile gaps -> connected-component avoidance
-> regular grid with overlap, exactly the priority order of SmartSplitter
(/root/reference/app/ocr/splitting/splitter.py:38-43,50-76).  All geometry
rules (target-chunk arithmetic, gap selection, min-size filters, overlap
bookkeeping, RTL strip reshaping) reproduce the reference modules cited
per function.  Runs entirely inside one Arrow batch in the Spark pipeline
(split UDF, SURVEY.md §2.5); chunk order is data (index/row/col), never
physical row order.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ocr_spark.config import SplitConfig
from ocr_spark.imaging import kernels as K


@dataclass
class Chunk:
    """One tile of a split page (splitting/base.py:13-65)."""

    image: np.ndarray
    index: int
    row: int
    col: int
    x: int
    y: int
    width: int
    height: int
    overlap_top: int = 0
    overlap_bottom: int = 0
    overlap_left: int = 0
    overlap_right: int = 0


@dataclass
class SplitOutcome:
    """Split result metadata (splitting/base.py:68-103)."""

    chunks: list[Chunk]
    grid_shape: tuple[int, int]
    original_size: tuple[int, int]
    split_method: str  # 'projection' | 'components' | 'grid' | 'none'
    was_split: bool
    metadata: dict = field(default_factory=dict)


@dataclass(frozen=True)
class LayoutAnalysis:
    """Projection-profile layout stats (splitting/analyzer.py:11-46)."""

    width: int
    height: int
    megapixels: float
    h_gap_positions: tuple[int, ...]
    v_gap_positions: tuple[int, ...]
    estimated_rows: int
    estimated_columns: int
    content_density: float
    is_mostly_white: bool


# --------------------------------------------------------------------------
# layout analysis (A9)
# --------------------------------------------------------------------------


def _projection_profile(binary_ink: np.ndarray, axis: int, smooth_k: int = 5) -> np.ndarray:
    """Normalized, box-smoothed ink projection (splitting/analyzer.py:125-171)."""
    proj = binary_ink.sum(axis=axis).astype(np.float64)
    mx = proj.max()
    if mx > 0:
        proj = proj / mx
    if smooth_k > 1:
        proj = np.convolve(proj, np.ones(smooth_k) / smooth_k, mode="same")
    return proj


def _find_gaps(
    proj: np.ndarray, dimension: int, gap_threshold: float, min_gap_pixels: int
) -> list[int]:
    """Gap-run centers below 1-gap_threshold, >=min width, >10% from edges
    (splitting/analyzer.py:173-218)."""
    thr = 1.0 - gap_threshold
    is_gap = proj < thr
    # run boundaries
    d = np.diff(np.concatenate(([0], is_gap.astype(np.int8), [0])))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    margin = dimension * 0.1
    out = []
    for s, e in zip(starts, ends):
        width = int(e - s)
        if width >= min_gap_pixels:
            center = int(s) + width // 2
            if margin < center < dimension - margin:
                out.append(center)
    return out


def analyze_layout(img: np.ndarray, cfg: SplitConfig) -> LayoutAnalysis:
    gray = img if img.ndim == 2 else K.to_gray(img)
    h, w = gray.shape
    ink = (K.binarize_otsu(gray, invert=True) > 0).astype(np.uint8)

    h_proj = _projection_profile(ink, axis=1)
    v_proj = _projection_profile(ink, axis=0)
    h_gaps = _find_gaps(h_proj, h, cfg.gap_threshold, cfg.min_gap_pixels)
    v_gaps = _find_gaps(v_proj, w, cfg.gap_threshold, cfg.min_gap_pixels)

    density = float(ink.sum()) / (w * h) if w * h else 0.0
    return LayoutAnalysis(
        width=w,
        height=h,
        megapixels=(w * h) / 1_000_000,
        h_gap_positions=tuple(h_gaps),
        v_gap_positions=tuple(v_gaps),
        estimated_rows=len(h_gaps) + 1,
        estimated_columns=len(v_gaps) + 1,
        content_density=density,
        is_mostly_white=density < 0.1,
    )


# --------------------------------------------------------------------------
# shared arithmetic
# --------------------------------------------------------------------------


def needs_splitting(shape: tuple[int, ...], cfg: SplitConfig) -> bool:
    """Size trigger: MP or max-dimension thresholds (splitting/base.py:177-194)."""
    h, w = shape[:2]
    mp = (w * h) / 1_000_000
    return mp > cfg.max_megapixels or w > cfg.max_dimension or h > cfg.max_dimension


def _target_chunks(width: int, height: int, cfg: SplitConfig) -> int:
    """max(ceil(MP/max_MP), ceil(w/max_dim)*ceil(h/max_dim), 2)
    (projection.py:104-117, components.py:193-204)."""
    mp = (width * height) / 1_000_000
    by_mp = math.ceil(mp / cfg.max_megapixels)
    by_dim = math.ceil(width / cfg.max_dimension) * math.ceil(height / cfg.max_dimension)
    return max(by_mp, by_dim, 2)


def _grid_rows_cols(target_chunks: int) -> tuple[int, int]:
    """rows = ceil(sqrt(t)), cols = ceil(t/rows) (projection.py:140-144)."""
    rows = int(math.ceil(math.sqrt(target_chunks)))
    cols = int(math.ceil(target_chunks / rows))
    return rows, cols


def _select_nearest_gaps(gaps: list[int], num: int, dimension: int) -> list[int]:
    """Greedy pick of gaps closest to the ideal even spacing
    (projection.py:170-209)."""
    if not gaps or num <= 0:
        return []
    if len(gaps) <= num:
        return sorted(gaps)
    spacing = dimension / (num + 1)
    available = list(gaps)
    chosen: list[int] = []
    for i in range(num):
        if not available:
            break
        ideal = spacing * (i + 1)
        best = min(available, key=lambda g: abs(g - ideal))
        chosen.append(best)
        available.remove(best)
    return sorted(chosen)


def _filter_min_size(splits: list[int], dimension: int, min_size: int) -> list[int]:
    """Sequential min-chunk-size filter (projection.py:211-242)."""
    out: list[int] = []
    prev = 0
    for s in sorted(splits):
        if s - prev >= min_size and dimension - s >= min_size:
            out.append(s)
            prev = s
    return out


def _slice_chunks(img: np.ndarray, h_splits: list[int], v_splits: list[int]) -> list[Chunk]:
    """Cut the image on the split grid, row-major indexing
    (projection.py:244-289)."""
    h, w = img.shape[:2]
    ys = [0] + sorted(h_splits) + [h]
    xs = [0] + sorted(v_splits) + [w]
    chunks: list[Chunk] = []
    idx = 0
    for r, (y0, y1) in enumerate(zip(ys[:-1], ys[1:])):
        for c, (x0, x1) in enumerate(zip(xs[:-1], xs[1:])):
            chunks.append(
                Chunk(
                    image=img[y0:y1, x0:x1].copy(),
                    index=idx,
                    row=r,
                    col=c,
                    x=x0,
                    y=y0,
                    width=x1 - x0,
                    height=y1 - y0,
                )
            )
            idx += 1
    return chunks


def _single_chunk(img: np.ndarray) -> SplitOutcome:
    h, w = img.shape[:2]
    return SplitOutcome(
        chunks=[Chunk(image=img, index=0, row=0, col=0, x=0, y=0, width=w, height=h)],
        grid_shape=(1, 1),
        original_size=(w, h),
        split_method="none",
        was_split=False,
    )


# --------------------------------------------------------------------------
# X1: projection splitter
# --------------------------------------------------------------------------


def split_projection(img: np.ndarray, cfg: SplitConfig) -> SplitOutcome:
    """Whitespace-gap XY-cut (projection.py:53-102)."""
    if not needs_splitting(img.shape, cfg):
        return _single_chunk(img)
    layout = analyze_layout(img, cfg)
    h, w = img.shape[:2]
    target = _target_chunks(w, h, cfg)
    rows, cols = _grid_rows_cols(target)

    h_splits: list[int] = []
    v_splits: list[int] = []
    if rows > 1 and layout.h_gap_positions:
        h_splits = _select_nearest_gaps(list(layout.h_gap_positions), rows - 1, h)
    if cols > 1 and layout.v_gap_positions:
        v_splits = _select_nearest_gaps(list(layout.v_gap_positions), cols - 1, w)
    h_splits = _filter_min_size(h_splits, h, cfg.min_chunk_size)
    v_splits = _filter_min_size(v_splits, w, cfg.min_chunk_size)

    if not h_splits and not v_splits:
        return _single_chunk(img)
    chunks = _slice_chunks(img, h_splits, v_splits)
    return SplitOutcome(
        chunks=chunks,
        grid_shape=(len(h_splits) + 1, len(v_splits) + 1),
        original_size=(w, h),
        split_method="projection",
        was_split=True,
        metadata={"h_splits": h_splits, "v_splits": v_splits},
    )


# --------------------------------------------------------------------------
# X2: connected-component splitter
# --------------------------------------------------------------------------


def _detect_text_regions(
    img: np.ndarray, min_component_area: int = 100, dilation_kernel: int = 5
) -> list[tuple[int, int, int, int, int]]:
    """Otsu-inv -> dilate 5x5 x2 -> 8-connected bboxes >= min area
    (components.py:151-191).  Returns (x, y, w, h, area)."""
    gray = img if img.ndim == 2 else K.to_gray(img)
    ink = K.binarize_otsu(gray, invert=True) > 0
    dilated = K.dilate(ink, k=dilation_kernel, iterations=2)
    return K.connected_components(dilated, min_area=min_component_area)


def _occupancy_splits(
    regions: list[tuple[int, int, int, int, int]],
    dimension: int,
    num_splits: int,
    cfg: SplitConfig,
    axis: str,
) -> list[int]:
    """Split positions in unoccupied 1-D space near ideal even spacing
    (components.py:244-350) with the edge/spacing validity rule
    (components.py:352-380)."""
    occupied = np.zeros(dimension, dtype=bool)
    pad = cfg.min_gap_pixels // 2
    for x, y, w, h, _area in regions:
        if axis == "y":
            s, e = y, y + h
        else:
            s, e = x, x + w
        occupied[max(0, s - pad) : min(dimension, e + pad)] = True

    candidates = np.flatnonzero(~occupied)
    if candidates.size == 0:
        return []

    spacing = dimension / (num_splits + 1)
    splits: list[int] = []
    for i in range(num_splits):
        if candidates.size == 0:
            break
        ideal = int(spacing * (i + 1))
        dist = np.abs(candidates - ideal)
        best = int(np.argmin(dist))
        if dist[best] < spacing * 0.5:
            pos = int(candidates[best])
            if (
                cfg.min_chunk_size <= pos <= dimension - cfg.min_chunk_size
                and all(abs(pos - s) >= cfg.min_chunk_size for s in splits)
            ):
                splits.append(pos)
    return sorted(splits)


def split_components(img: np.ndarray, cfg: SplitConfig) -> SplitOutcome:
    """Component-avoiding cuts (components.py:98-149)."""
    if not needs_splitting(img.shape, cfg):
        return _single_chunk(img)
    h, w = img.shape[:2]
    regions = _detect_text_regions(img)
    if not regions:
        return _single_chunk(img)
    target = _target_chunks(w, h, cfg)
    rows, cols = _grid_rows_cols(target)
    h_splits = _occupancy_splits(regions, h, rows - 1, cfg, "y") if rows > 1 else []
    v_splits = _occupancy_splits(regions, w, cols - 1, cfg, "x") if cols > 1 else []
    if not h_splits and not v_splits:
        return _single_chunk(img)
    chunks = _slice_chunks(img, h_splits, v_splits)
    return SplitOutcome(
        chunks=chunks,
        grid_shape=(len(h_splits) + 1, len(v_splits) + 1),
        original_size=(w, h),
        split_method="components",
        was_split=True,
        metadata={"num_text_regions": len(regions)},
    )


# --------------------------------------------------------------------------
# X3: grid splitter with overlap
# --------------------------------------------------------------------------


def _grid_size(width: int, height: int, cfg: SplitConfig) -> tuple[int, int]:
    """Grid dims from target size + MP floor + RTL strip reshaping
    (grid.py:79-127)."""
    effective_max = min(cfg.target_chunk_size, cfg.max_dimension)
    rows = int(math.ceil(height / effective_max))
    cols = int(math.ceil(width / effective_max))

    mp = (width * height) / 1_000_000
    if mp > cfg.max_megapixels:
        min_splits = math.ceil(math.sqrt(math.ceil(mp / cfg.max_megapixels)))
        rows = max(rows, min_splits)
        cols = max(cols, min_splits)

    if cfg.prefer_horizontal_splits and cols > 1:
        total = rows * cols
        if total <= 4:
            rows, cols = total, 1
        else:
            cols = min(cols, 2)
            rows = int(math.ceil(total / cols))
    return max(rows, 1), max(cols, 1)


def split_grid(img: np.ndarray, cfg: SplitConfig) -> SplitOutcome:
    """Regular grid with interior-edge overlap for later dedup
    (grid.py:45-77,129-211)."""
    if not needs_splitting(img.shape, cfg):
        return _single_chunk(img)
    h, w = img.shape[:2]
    rows, cols = _grid_size(w, h, cfg)
    base_h = h / rows
    base_w = w / cols
    ov_y = int(base_h * cfg.overlap_percent)
    ov_x = int(base_w * cfg.overlap_percent)

    chunks: list[Chunk] = []
    idx = 0
    for r in range(rows):
        for c in range(cols):
            y0, y1 = int(r * base_h), int((r + 1) * base_h)
            x0, x1 = int(c * base_w), int((c + 1) * base_w)
            top = ov_y if r > 0 else 0
            bottom = ov_y if r < rows - 1 else 0
            left = ov_x if c > 0 else 0
            right = ov_x if c < cols - 1 else 0
            y0 = max(0, y0 - top)
            y1 = min(h, y1 + bottom)
            x0 = max(0, x0 - left)
            x1 = min(w, x1 + right)
            chunks.append(
                Chunk(
                    image=img[y0:y1, x0:x1].copy(),
                    index=idx,
                    row=r,
                    col=c,
                    x=x0,
                    y=y0,
                    width=x1 - x0,
                    height=y1 - y0,
                    overlap_top=top,
                    overlap_bottom=bottom,
                    overlap_left=left,
                    overlap_right=right,
                )
            )
            idx += 1
    return SplitOutcome(
        chunks=chunks,
        grid_shape=(rows, cols),
        original_size=(w, h),
        split_method="grid",
        was_split=True,
        metadata={"overlap_percent": cfg.overlap_percent},
    )


# --------------------------------------------------------------------------
# cascade
# --------------------------------------------------------------------------


def smart_split(img: np.ndarray, cfg: SplitConfig) -> SplitOutcome:
    """Cheapest-first strategy cascade (splitter.py:50-76).

    The reference gates each splitter behind its can_split; here the
    splitters are called directly and was_split is the gate — each
    split_* returns a single-chunk outcome in exactly the cases its
    can_split would return False (same layout analysis, same split
    candidates), so the cascade semantics are identical while the
    expensive analysis (Otsu + projections; Otsu + dilate x2 + CC)
    runs ONCE per strategy instead of twice on every splitting page."""
    if not cfg.enabled or not needs_splitting(img.shape, cfg):
        return _single_chunk(img)
    out = split_projection(img, cfg)
    if out.was_split:
        return out
    out = split_components(img, cfg)
    if out.was_split:
        return out
    out = split_grid(img, cfg)
    if out.was_split:
        return out
    return _single_chunk(img)
