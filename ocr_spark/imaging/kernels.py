"""Pure-numpy replacements for the cv2 kernels the reference relies on.

Each function reproduces the *semantics* the reference needs (gate
decisions, geometry, determinism) without OpenCV, which is absent in this
environment.  The default ("fast") kernels substitute deterministic
equivalents (3x3 median, bilinear, box-adaptive) — both the Spark
pipeline and the single-process oracle share these kernels, so
span-sequence equality is unaffected, and all threshold/gate semantics
are preserved exactly.  The cv2-fidelity section below
(PreprocessConfig.fidelity="cv2") additionally provides the reference's
exact algorithms: real OpenCV when installed (byte-parity with the
reference), faithful numpy equivalents (Keys A=-0.75 bicubic, gaussian
adaptive threshold, the NL-means invoker) otherwise.

Images are uint8 (HxW, HxWxC): decode_png, the %PDF walker and fitz
produce nothing else, so each algorithm has one implementation, and the
gray kernels that would silently misread another dtype reject it with a
TypeError (require_u8).

Reference counterparts:
  to_gray ............. cv2.cvtColor RGB2GRAY (analyzer.py:41, grayscale.py:42-63)
  box_mean_u8 ......... cv2.blur (analyzer.py:113-114)
  laplacian_var ....... cv2.Laplacian(...).var() (analyzer.py:95-103)
  estimate_noise ...... local-variance method (analyzer.py:105-121)
  sobel_masks ......... cv2.Canny stand-in for edge masks, plus the
                        near-horizontal subset hough_skew reads
                        (analyzer.py:130,223,236)
  hough_skew .......... cv2.HoughLines near-horizontal median (analyzer.py:123-155)
  otsu/binarize_* ..... cv2.threshold OTSU / adaptiveThreshold (binarization.py:59-86)
  median3/nlmeans_denoise  fastNlMeansDenoising stand-in / twin (noise_removal.py:33-53)
  normalize_minmax .... cv2.normalize NORM_MINMAX (normalization.py:36-50)
  resize_bi{linear,cubic}  cv2.resize (scaling.py:55-69)
  rotate_expand ....... cv2.warpAffine w/ expanded bbox (deskew.py:46-96,
                        processor.py:244-279)
  dilate .............. cv2.dilate (components.py:171-172)
  connected_components  cv2.connectedComponentsWithStats (components.py:175-191)
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------------------
# color / basic stats
# --------------------------------------------------------------------------

_GRAY_W = np.array([0.299, 0.587, 0.114], dtype=np.float64)


def to_gray(img: np.ndarray) -> np.ndarray:
    """RGB(A) -> gray uint8 with the standard ITU-R BT.601 weights."""
    if img.ndim == 2:
        return img
    rgb = img[..., :3].astype(np.float64)
    gray = rgb @ _GRAY_W
    return np.clip(np.rint(gray), 0, 255).astype(np.uint8)


def require_u8(img: np.ndarray, fn: str) -> None:
    """TypeError unless `img` is uint8, the imaging layer's one input type."""
    if img.dtype != np.uint8:
        raise TypeError(f"{fn} expects a uint8 image, got {img.dtype}")


# strips keep every int32 temp under ~16 MB (see resize_bilinear note)
_BOX_STRIP_ELEMS = 4 << 20


def _box_mean_block_u8(img_u8: np.ndarray, k: int) -> np.ndarray:
    """k x k window sums by integral image in int32, divided by k*k in
    float64. The running cumsums may wrap past 2^31, but every window sum
    is a difference of two of them and fits int32 (<= 255*k*k), so the
    wrapping subtraction recovers it exactly. The first window's sum is
    cs[k-1] (implicit zero row/col) — written directly instead of
    prepending a zeros row/col, which would copy the whole array."""
    pad = k // 2
    padded = np.pad(img_u8, pad, mode="edge")
    cs = padded.cumsum(axis=0, dtype=np.int32)
    rows = np.empty((cs.shape[0] - k + 1, cs.shape[1]), dtype=np.int32)
    rows[0] = cs[k - 1]
    np.subtract(cs[k:], cs[:-k], out=rows[1:])
    cs2 = rows.cumsum(axis=1, dtype=np.int32)
    summed = np.empty((rows.shape[0], cs2.shape[1] - k + 1), dtype=np.int32)
    summed[:, 0] = cs2[:, k - 1]
    np.subtract(cs2[:, k:], cs2[:, :-k], out=summed[:, 1:])
    return summed / (k * k)


def box_mean_u8(img_u8: np.ndarray, k: int) -> np.ndarray:
    """k x k moving average (replicate borders) of a uint8 image.

    Window sums are exact int32 integers (see _box_mean_block_u8). Large
    images run in row strips with a k//2 halo; the sums are exact either
    way, so the strip-wise result is bit-identical to the whole-image
    computation.
    """
    require_u8(img_u8, "box_mean_u8")
    h, w = img_u8.shape
    if h * w <= _BOX_STRIP_ELEMS or h <= 2 * k:
        return _box_mean_block_u8(img_u8, k)
    pad = k // 2
    out = np.empty((h, w), dtype=np.float64)
    step = max(k, _BOX_STRIP_ELEMS // w)
    for s in range(0, h, step):
        e = min(s + step, h)
        # halo rows come from the image; replicate-pad only at the ends
        s0, e0 = max(0, s - pad), min(h, e + pad)
        block = img_u8[s0:e0]
        top, bot = pad - (s - s0), pad - (e0 - e)
        if top or bot:
            block = np.pad(block, ((top, bot), (0, 0)), mode="edge")
        out[s:e] = _box_mean_block_u8(block, k)[pad:pad + (e - s)]
    return out


def laplacian_var(gray: np.ndarray) -> float:
    """Variance of the 4-neighbour Laplacian (sharpness score, A1)."""
    g = gray.astype(np.float32)
    p = np.pad(g, 1, mode="edge")
    lap = p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4.0 * g
    # variance accumulated in float64 — float32 image values are exact,
    # only the reduction needs the precision
    return float(lap.var(dtype=np.float64))


# ~256 KB per strip temporary: a strip's working set stays in the L2
# cache, far below glibc's 32 MiB mmap threshold (see resize_bilinear)
_STRIP_BYTES = 256 << 10


def _strip_rows(row_bytes: int) -> int:
    """Rows per strip when one row of the largest temporary takes
    `row_bytes`."""
    return max(1, _STRIP_BYTES // max(1, row_bytes))


def _local_sd_u8(gray: np.ndarray) -> np.ndarray:
    """Per-pixel 5x5 (replicate-border) standard deviation of a uint8
    image, bit-identical to the float64 formula sqrt(|box(x^2) -
    box(x)^2|) over 5x5 window means: the window sums S1 (uint16) and
    S2 (int32) are exact integers built by shifted adds, and the float64
    expression S2/25 - (S1/25)^2 is kept as is."""
    h, w = gray.shape
    p = np.pad(gray, 2, mode="edge")
    out = np.empty((h, w), dtype=np.float64)
    step = _strip_rows(8 * w)
    for s in range(0, h, step):
        e = min(s + step, h)
        b = p[s : e + 4].astype(np.uint16)
        sq = b * b  # <= 255^2 fits uint16; the 5-row sum needs int32
        v1 = b[:-4] + b[1:-3]
        v2 = sq[:-4].astype(np.int32)
        for i in range(1, 5):
            if i > 1:
                v1 += b[i : i + e - s]
            v2 += sq[i : i + e - s]
        s1 = v1[:, :-4] + v1[:, 1:-3]
        s2 = v2[:, :-4] + v2[:, 1:-3]
        for j in range(2, 5):
            s1 += v1[:, j : j + w]
            s2 += v2[:, j : j + w]
        mean = s1 / 25
        mean *= mean
        var = out[s:e]
        np.divide(s2, 25, out=var)
        var -= mean
        np.abs(var, out=var)
        np.sqrt(var, out=var)
    return out


def estimate_noise(gray: np.ndarray) -> float:
    """Median local std-dev over 5x5 windows, normalized by 50, clamped [0,1] (A2)."""
    require_u8(gray, "estimate_noise")
    noise = float(np.median(_local_sd_u8(gray)))
    return min(1.0, noise / 50.0)


def sobel_masks(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """3x3 Sobel (replicate border) of a uint8 image as two masks:
    `edges` = gradient magnitude > 200 (the Canny stand-in for A7/A8) and
    `horiz` = edges whose gradient is mostly vertical, |gy| > 1.5|gx|
    (the near-horizontal points hough_skew accumulates).

    The gradients are exact int16 values in [-1020, 1020], so both tests
    are integer comparisons: gx^2 + gy^2 > 40000 and 2|gy| > 3|gx| give
    the same masks as float32 hypot(gx, gy) > 200 and |gy| > 1.5|gx|
    over every reachable gradient pair. Runs in cache-sized row strips.
    """
    require_u8(gray, "sobel_masks")
    h, w = gray.shape
    p = np.pad(gray, 1, mode="edge")
    edges = np.empty((h, w), dtype=bool)
    horiz = np.empty((h, w), dtype=bool)
    step = _strip_rows(4 * w)
    for s in range(0, h, step):
        e = min(s + step, h)
        b = p[s : e + 2].astype(np.int16)
        d = b[:, 2:] - b[:, :-2]  # horizontal difference, one per row
        gx = d[:-2] + d[2:]
        gx += d[1:-1]
        gx += d[1:-1]
        t = b[:, :-2] + b[:, 2:]  # horizontal [1 2 1] smoothing
        t += b[:, 1:-1]
        t += b[:, 1:-1]
        gy = t[2:] - t[:-2]
        mag2 = np.square(gx, dtype=np.int32)
        mag2 += np.square(gy, dtype=np.int32)
        np.greater(mag2, 40000, out=edges[s:e])
        np.abs(gx, out=gx)
        gx *= 3
        np.abs(gy, out=gy)
        gy += gy
        np.greater(gy, gx, out=horiz[s:e])
        horiz[s:e] &= edges[s:e]
    return edges, horiz


def hough_skew(
    gray: np.ndarray,
    theta_window_deg: float = 20.0,
    theta_step_deg: float = 0.25,
    rho_step: float = 3.0,
    max_points: int = 12000,
    min_count: int = 20,
    peak_lobe_only: bool = False,
    horiz: np.ndarray | None = None,
) -> float:
    """Hough-transform skew estimate in degrees (A3).

    Accumulates near-horizontal edge points (gradient mostly vertical, so
    text-line tops/bottoms dominate and the glyph lattice's vertical edges
    don't cross-talk) over a fine theta grid and returns the
    intensity-weighted angle around the accumulator peak — the same
    edges -> HoughLines -> near-horizontal angle scheme as
    /root/reference/app/ocr/preprocessing/analyzer.py:123-155.  The sign is
    chosen so that `rotate_expand(img, -hough_skew(img))` levels the image.

    `peak_lobe_only` restricts the refinement to the contiguous run of
    near-peak orientations around the maximum.  Meant for denoised views
    of noisy pages: residual speckle lifts the whole per-theta profile, so
    orientations far from the true peak can clear the plateau threshold
    and drag the average off a level page.

    `horiz` is sobel_masks(gray)[1] when the caller already has it.
    """
    if horiz is None:
        horiz = sobel_masks(gray)[1]
    ys, xs = np.nonzero(horiz)
    n = xs.size
    if n < min_count:
        return 0.0
    if n > max_points:
        step = n // max_points + 1
        xs, ys = xs[::step], ys[::step]

    thetas_deg = np.arange(
        90.0 - theta_window_deg, 90.0 + theta_window_deg + 1e-9, theta_step_deg
    )
    thetas = np.deg2rad(thetas_deg)
    cos_t, sin_t = np.cos(thetas), np.sin(thetas)

    # rho for every (point, theta); bin into a per-theta accumulator.
    # float32 is exact enough for 3 px rho bins on page-sized coordinates.
    cos_t = cos_t.astype(np.float32)
    sin_t = sin_t.astype(np.float32)
    rho = xs[:, None].astype(np.float32) * cos_t[None, :] + ys[
        :, None
    ].astype(np.float32) * sin_t[None, :]
    diag = float(np.hypot(gray.shape[0], gray.shape[1]))
    nbins = int(2 * diag / rho_step) + 3
    bins = np.rint((rho + diag) / rho_step).astype(np.int64)
    np.clip(bins, 0, nbins - 1, out=bins)
    flat = bins + np.arange(len(thetas), dtype=np.int64)[None, :] * nbins
    acc = np.bincount(flat.ravel(), minlength=len(thetas) * nbins).reshape(
        len(thetas), nbins
    )

    # strength of the best line at each orientation
    per_theta = acc.max(axis=1).astype(np.float64)
    peak = float(per_theta.max())
    if peak < min_count:
        return 0.0
    # center-of-mass refinement over the near-peak plateau
    strong = per_theta >= 0.85 * peak
    if peak_lobe_only:
        lo = hi = int(np.argmax(per_theta))
        while lo > 0 and strong[lo - 1]:
            lo -= 1
        while hi < len(strong) - 1 and strong[hi + 1]:
            hi += 1
        strong = np.zeros_like(strong)
        strong[lo : hi + 1] = True
    est = float(np.average(thetas_deg[strong], weights=per_theta[strong]))
    return -(est - 90.0)


# --------------------------------------------------------------------------
# thresholding
# --------------------------------------------------------------------------


# histogram sample budget: above this many pixels the histogram is built
# from a strided subsample — statistically identical threshold (≥1M
# samples), ~10x less random-access bincount traffic on upscaled pages
_OTSU_SAMPLE_PX = 1 << 20


def otsu_threshold(gray: np.ndarray) -> int:
    """Otsu's threshold over the 256-bin histogram (subsampled on large
    images; cv2 uses the full histogram, but with ≥2^20 samples the
    class-variance argmax is the same threshold in practice and the
    oracle shares this kernel either way)."""
    if gray.size > _OTSU_SAMPLE_PX:
        step = int(np.ceil(np.sqrt(gray.size / _OTSU_SAMPLE_PX)))
        gray = gray[::step, ::step]
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    w0 = omega
    w1 = total - omega
    valid = (w0 > 0) & (w1 > 0)
    between = np.zeros(256)
    between[valid] = (mu_t * w0[valid] - total * mu[valid]) ** 2 / (
        w0[valid] * w1[valid]
    )
    return int(np.argmax(between))


def binarize_otsu(gray: np.ndarray, invert: bool = False) -> np.ndarray:
    """cv2.threshold(..., THRESH_BINARY[+_INV] | THRESH_OTSU) equivalent."""
    t = otsu_threshold(gray)
    if invert:
        return np.where(gray > t, 0, 255).astype(np.uint8)
    return np.where(gray > t, 255, 0).astype(np.uint8)


def _adaptive_block(h: int, w: int) -> int:
    """The reference's adaptive-threshold block size
    (binarization.py:69-86): min(w, h)//20 clamped to 11..101, made odd."""
    return max(11, min(101, min(w, h) // 20)) | 1


def binarize_adaptive(gray: np.ndarray, c: float = 11.0) -> np.ndarray:
    """Adaptive mean thresholding over _adaptive_block windows.

    Reference uses ADAPTIVE_THRESH_GAUSSIAN_C with the same block-size rule
    (binarization.py:69-86); a box mean is the deterministic equivalent here.
    """
    require_u8(gray, "binarize_adaptive")
    local = box_mean_u8(gray, _adaptive_block(*gray.shape))
    # the comparison ufunc promotes uint8 -> float64 per buffer; no full
    # float copy of the image is materialized
    return np.where(gray > local - c, 255, 0).astype(np.uint8)


# --------------------------------------------------------------------------
# filtering / geometry
# --------------------------------------------------------------------------


def median3(img: np.ndarray) -> np.ndarray:
    """3x3 median filter (salt-and-pepper denoise stand-in)."""
    if img.ndim == 3:
        return np.stack([median3(img[..., c]) for c in range(img.shape[2])], axis=-1)
    p = np.pad(img, 1, mode="edge")
    stack = np.stack(
        [p[dy : dy + img.shape[0], dx : dx + img.shape[1]] for dy in range(3) for dx in range(3)],
        axis=0,
    )
    stack.sort(axis=0)
    return stack[4]


def normalize_minmax(img: np.ndarray) -> np.ndarray:
    """Stretch intensities to the full 0..255 range (T5)."""
    f = img.astype(np.float64)
    lo, hi = float(f.min()), float(f.max())
    if hi <= lo:
        return img.copy()
    out = (f - lo) * (255.0 / (hi - lo))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def invert(img: np.ndarray) -> np.ndarray:
    """255 - pixel (T2)."""
    return (255 - img.astype(np.int16)).astype(np.uint8)


def resize_bilinear(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Bilinear resize with cv2-style half-pixel centers (separable).

    Both passes run per cache-sized strip of output rows: the horizontal
    pass covers only the input rows the strip reads, gathering uint8
    columns before widening them to float32. Every output pixel is the
    same float32 expression whatever the strip size, and no temporary
    nears glibc's 32 MiB mmap threshold (above it, allocations bypass the
    reusable heap and pay first-touch page faults on every call).
    """
    h, w = img.shape[:2]
    if (new_w, new_h) == (w, h):
        return img.copy()
    xs = (np.arange(new_w) + 0.5) * (w / new_w) - 0.5
    ys = (np.arange(new_h) + 0.5) * (h / new_h) - 0.5
    x0 = np.clip(np.floor(xs), 0, w - 1).astype(np.int64)
    y0 = np.clip(np.floor(ys), 0, h - 1).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    wx = np.clip(xs - x0, 0.0, 1.0).astype(np.float32)
    wy = np.clip(ys - y0, 0.0, 1.0).astype(np.float32)

    # weights broadcast over a trailing channel axis when there is one
    tail = (1,) * (img.ndim - 2)
    wx1 = wx.reshape((1, new_w) + tail)
    wx0 = 1 - wx1
    wy = wy.reshape((new_h, 1) + tail)
    ch = img.shape[2] if img.ndim == 3 else 1
    out = np.empty((new_h, new_w) + img.shape[2:], dtype=np.uint8)
    step = _strip_rows(4 * new_w * ch)
    for s in range(0, new_h, step):
        e = min(s + step, new_h)
        r0 = y0[s]
        block = img[r0 : y1[e - 1] + 1]
        # pass 1: horizontal over the strip's input rows; in-place
        # multiplies/adds keep each pass to two temporaries
        row = block.take(x0, axis=1).astype(np.float32)
        row *= wx0
        tmp = block.take(x1, axis=1).astype(np.float32)
        tmp *= wx1
        row += tmp
        # pass 2: vertical. The uint8 assignment truncates (x + 0.5)
        # exactly like (x + 0.5).astype(uint8) for non-negative values.
        strip = row.take(y0[s:e] - r0, axis=0)
        strip *= 1 - wy[s:e]
        tmp = row.take(y1[s:e] - r0, axis=0)
        tmp *= wy[s:e]
        strip += tmp
        strip += 0.5
        out[s:e] = strip
    return out


# --------------------------------------------------------------------------
# cv2-fidelity kernels (feature-detected OpenCV, faithful numpy fallback)
# --------------------------------------------------------------------------


def _cv2():
    """Feature-detected OpenCV (the pdfio._fitz pattern): the fidelity
    kernels call the real library when installed, so pixel output on a
    cv2-equipped cluster matches the reference byte-for-byte; without it
    the numpy implementations below reproduce the documented cv2
    algorithms (same kernels/constants, float arithmetic instead of
    cv2's fixed-point — sub-ULP-of-a-pixel differences only)."""
    try:
        import cv2  # type: ignore

        return cv2
    except ImportError:
        return None


def _cubic_weights(ts: np.ndarray) -> np.ndarray:
    """cv2 INTER_CUBIC tap weights (Keys cubic, A=-0.75) for taps at
    offsets (-1, 0, +1, +2) around the fractional positions `ts`.
    The Keys family is a partition of unity: each column sums to 1."""
    a = -0.75

    def k(t):
        at = np.abs(t)
        return np.where(
            at <= 1,
            ((a + 2) * at - (a + 3)) * at * at + 1,
            np.where(at < 2, a * (((at - 5) * at + 8) * at - 4), 0.0),
        )

    return np.stack([k(ts + 1), k(ts), k(ts - 1), k(ts - 2)]).astype(np.float32)


def _resize_bicubic_np(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Separable Keys-cubic resize with cv2 half-pixel centers, clamped
    borders, overshoot clipped; strip-wise like resize_bilinear so no
    float temp exceeds ~16 MB (sandbox page-fault tax). The weights
    broadcast over a trailing channel axis when there is one."""
    h, w = img.shape[:2]
    if (new_w, new_h) == (w, h):
        return img.copy()
    xs = (np.arange(new_w) + 0.5) * (w / new_w) - 0.5
    ys = (np.arange(new_h) + 0.5) * (h / new_h) - 0.5
    x0 = np.floor(xs).astype(np.int64)
    y0 = np.floor(ys).astype(np.int64)
    tail = img.shape[2:]
    ones = (1,) * len(tail)
    wx = _cubic_weights((xs - x0).astype(np.float32)).reshape((4, 1, new_w) + ones)
    wy = _cubic_weights((ys - y0).astype(np.float32)).reshape((4, new_h, 1) + ones)
    xi = [np.clip(x0 + k, 0, w - 1) for k in (-1, 0, 1, 2)]
    yi = [np.clip(y0 + k, 0, h - 1) for k in (-1, 0, 1, 2)]

    f = img.astype(np.float32)
    row = np.zeros((h, new_w) + tail, np.float32)
    for k in range(4):
        tmp = f.take(xi[k], axis=1)
        tmp *= wx[k]
        row += tmp
    out = np.empty((new_h, new_w) + tail, dtype=np.uint8)
    ch = img.shape[2] if img.ndim == 3 else 1
    step = max(1, (16 << 20) // (4 * new_w * ch))
    for s in range(0, new_h, step):
        e = min(s + step, new_h)
        strip = np.zeros((e - s, new_w) + tail, np.float32)
        for k in range(4):
            tmp = row.take(yi[k][s:e], axis=0)
            tmp *= wy[k, s:e]
            strip += tmp
        np.clip(strip, 0, 255, out=strip)
        strip += 0.5
        out[s:e] = strip
    return out


def resize_bicubic(img: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """cv2.resize INTER_CUBIC (scaling.py:55-69) — real cv2 when
    installed, Keys A=-0.75 numpy equivalent otherwise."""
    cv2 = _cv2()
    if cv2 is not None:
        return cv2.resize(img, (new_w, new_h), interpolation=cv2.INTER_CUBIC)
    return _resize_bicubic_np(img, new_w, new_h)


def _gaussian_kernel_1d(block: int) -> np.ndarray:
    """cv2.getGaussianKernel: sigma = 0.3*((ksize-1)*0.5 - 1) + 0.8,
    normalized to sum 1."""
    sigma = 0.3 * ((block - 1) * 0.5 - 1) + 0.8
    t = np.arange(block, dtype=np.float64) - (block - 1) / 2
    g = np.exp(-(t * t) / (2 * sigma * sigma))
    return (g / g.sum()).astype(np.float32)


def _binarize_adaptive_gaussian_np(gray: np.ndarray, c: float) -> np.ndarray:
    h, w = gray.shape
    block = _adaptive_block(h, w)
    g = _gaussian_kernel_1d(block)
    r = block // 2
    f = gray.astype(np.float32)
    p = np.pad(f, ((0, 0), (r, r)), mode="edge")
    horiz = np.zeros_like(f)
    for i in range(block):
        horiz += g[i] * p[:, i : i + w]
    p = np.pad(horiz, ((r, r), (0, 0)), mode="edge")
    local = np.zeros_like(f)
    for i in range(block):
        local += g[i] * p[i : i + h, :]
    return np.where(f > local - c, 255, 0).astype(np.uint8)


def binarize_adaptive_gaussian(gray: np.ndarray, c: float = 11.0) -> np.ndarray:
    """ADAPTIVE_THRESH_GAUSSIAN_C with the reference's block-size rule
    (binarization.py:69-86) — real cv2 when installed, separable
    gaussian-weighted local mean (replicated borders) otherwise."""
    cv2 = _cv2()
    if cv2 is not None:
        return cv2.adaptiveThreshold(
            gray, 255, cv2.ADAPTIVE_THRESH_GAUSSIAN_C, cv2.THRESH_BINARY,
            _adaptive_block(*gray.shape), c,
        )
    return _binarize_adaptive_gaussian_np(gray, c)


NLM_TEMPLATE = 7  # the reference's templateWindowSize (noise_removal.py:33-53)
NLM_SEARCH = 21  # searchWindowSize
# OpenCV bins template distances by the nearest power of two to
# templateWindowSize^2 (49 -> 64, shift 6) before the weight LUT lookup
_NLM_BIN_SHIFT = 6
# weights are fixed-point ints scaled so the worst-case estimation sum
# (search_area * 255 * max_weight) stays inside int32 (OpenCV
# fast_nlmeans_denoising_invoker.hpp constructor)
_NLM_FIXED_POINT_MULT = (2**31 - 1) // (NLM_SEARCH * NLM_SEARCH * 255)
_NLM_WEIGHT_THRESHOLD = 0.001  # weights below 0.1% of max are zeroed


def _nlm_weight_lut(h: float, cn: int = 1) -> np.ndarray:
    """Binned-distance -> fixed-point-weight LUT, mirroring OpenCV's
    almost_dist2weight table for NORM_L2 on uint8: bucket index is
    dist_sum >> 6, actual mean-square distance = index * (64/49),
    weight = round(mult * exp(-dist / (h^2 * cn))), small weights
    zeroed.  For cn-channel pixels the max distance (and the table)
    scales by cn and the denominator gains the channel count, exactly
    OpenCV's DistSquared::calcWeight / maxDist pair
    (fast_nlmeans_denoising_invoker_commons.hpp)."""
    mult = float(1 << _NLM_BIN_SHIFT) / (NLM_TEMPLATE * NLM_TEMPLATE)
    n = int(cn * 255 * 255 / mult + 1) + 1
    dist = np.arange(n, dtype=np.float64) * mult
    w = np.rint(
        _NLM_FIXED_POINT_MULT * np.exp(-dist / (h * h * cn))
    ).astype(np.int64)
    w[w < _NLM_WEIGHT_THRESHOLD * _NLM_FIXED_POINT_MULT] = 0
    return w


def _nlmeans_np(img: np.ndarray, h: float, strip_rows: int = 256) -> np.ndarray:
    """Pure-numpy twin of cv2.fastNlMeansDenoising's invoker (NORM_L2,
    template 7, search 21) for an HxW or HxWxC uint8 image (OpenCV's
    CV_8UC1/2/3 invoker shapes), following the public OpenCV algorithm
    (photo module, fast_nlmeans_denoising_invoker.hpp): reflect-101
    border of search/2 + template/2, per-offset template SSD via
    integral images, distances binned by >> 6 into a fixed-point weight
    LUT, integer accumulation with round-half-up division. Template
    distances are VECTOR L2 — per-offset SSD summed over channels
    through one shared integral image — the LUT denominator is h^2*cn,
    and one weight field drives every channel's accumulation. Runs in
    row strips so temporaries stay under the sandbox's 32 MB re-fault
    threshold (one (strip+7, W+7) int64 integral per offset, whatever
    the channel count)."""
    gray = img.ndim == 2
    if gray:
        img = img[..., None]
    H, W, C = img.shape
    th, sh = NLM_TEMPLATE // 2, NLM_SEARCH // 2  # 3, 10
    border = th + sh  # 13
    P = np.pad(
        img, ((border, border), (border, border), (0, 0)), mode="reflect"
    ).astype(np.int32)
    lut = _nlm_weight_lut(float(h), C)
    out = np.empty((H, W, C), dtype=np.uint8)
    t = NLM_TEMPLATE
    for r0 in range(0, H, strip_rows):
        r1 = min(H, r0 + strip_rows)
        hh = r1 - r0
        est = np.zeros((hh, W, C), dtype=np.int64)
        wsum = np.zeros((hh, W), dtype=np.int64)
        base = P[r0 + sh : r0 + sh + hh + t - 1, sh : sh + W + t - 1]
        for dy in range(-sh, sh + 1):
            for dx in range(-sh, sh + 1):
                shifted = P[
                    r0 + sh + dy : r0 + sh + dy + hh + t - 1,
                    sh + dx : sh + dx + W + t - 1,
                ]
                d = base - shifted
                d *= d
                dsum = d.sum(axis=-1)
                integ = np.zeros((hh + t, W + t), dtype=np.int64)
                np.cumsum(dsum, axis=0, out=integ[1:, 1:])
                np.cumsum(integ[1:, 1:], axis=1, out=integ[1:, 1:])
                dist = (
                    integ[t:, t:]
                    - integ[:-t, t:]
                    - integ[t:, :-t]
                    + integ[:-t, :-t]
                )
                w = lut[dist >> _NLM_BIN_SHIFT]
                center = P[
                    r0 + border + dy : r0 + border + dy + hh,
                    border + dx : border + dx + W,
                ]
                est += w[:, :, None] * center
                wsum += w
        out[r0:r1] = (
            (est + (wsum >> 1)[:, :, None]) // wsum[:, :, None]
        ).astype(np.uint8)
    return out[..., 0] if gray else out


# linear-BGR <-> CIELab for 8-bit images, the colorspace
# fastNlMeansDenoisingColored denoises in (OpenCV denoising.cpp:
# cvtColor(src, src_lab, COLOR_LBGR2Lab) — LINEAR BGR, no sRGB gamma).
# Matrix/white-point constants are OpenCV's own (imgproc color_lab.cpp).
_LAB_M = np.array(
    [
        [0.412453, 0.357580, 0.180423],
        [0.212671, 0.715160, 0.072169],
        [0.019334, 0.119193, 0.950227],
    ]
)
_LAB_WHITE = np.array([0.950456, 1.0, 1.088754])
_LAB_T0 = 0.008856  # (6/29)^3


def _lbgr_to_lab_u8(img: np.ndarray) -> np.ndarray:
    """uint8 linear-BGR -> uint8 Lab (L*255/100, a+128, b+128), float
    math where OpenCV uses fixed-point tables — agreement within 1 LSB."""
    bgr = img.astype(np.float64) / 255.0
    rgb = bgr[..., ::-1]
    xyz = rgb @ _LAB_M.T / _LAB_WHITE
    f = np.where(
        xyz > _LAB_T0, np.cbrt(xyz), 7.787 * xyz + 16.0 / 116.0
    )
    lab = np.empty_like(xyz)
    lab[..., 0] = (116.0 * f[..., 1] - 16.0) * (255.0 / 100.0)
    lab[..., 1] = 500.0 * (f[..., 0] - f[..., 1]) + 128.0
    lab[..., 2] = 200.0 * (f[..., 1] - f[..., 2]) + 128.0
    return np.clip(np.rint(lab), 0, 255).astype(np.uint8)


def _lab_to_lbgr_u8(lab: np.ndarray) -> np.ndarray:
    """Inverse of _lbgr_to_lab_u8 (Lab2LBGR)."""
    L = lab[..., 0].astype(np.float64) * (100.0 / 255.0)
    a = lab[..., 1].astype(np.float64) - 128.0
    b = lab[..., 2].astype(np.float64) - 128.0
    fy = (L + 16.0) / 116.0
    f = np.stack([fy + a / 500.0, fy, fy - b / 200.0], axis=-1)
    t1 = 6.0 / 29.0
    xyz = np.where(f > t1, f**3, (f - 16.0 / 116.0) / 7.787) * _LAB_WHITE
    rgb = xyz @ np.linalg.inv(_LAB_M).T
    bgr = rgb[..., ::-1]
    return np.clip(np.rint(bgr * 255.0), 0, 255).astype(np.uint8)


def _nlmeans_color_np(
    img: np.ndarray, h: float, h_color: float, strip_rows: int = 256
) -> np.ndarray:
    """Pure-numpy twin of cv2.fastNlMeansDenoisingColored (VERDICT r4
    #5), following the public OpenCV pipeline (photo/denoising.cpp):
    convert linear-BGR to Lab, denoise the L plane with _nlmeans_np at
    `h`, denoise the (a,b) pair as ONE 2-channel image
    (vector L2 distances, denominator h_color^2*2) at `h_color`, and
    convert back. Chroma noise is averaged jointly — the property the
    median3 stand-in could not reproduce."""
    lab = _lbgr_to_lab_u8(img)
    out = np.empty_like(lab)
    out[..., 0] = _nlmeans_np(lab[..., 0], h, strip_rows)
    out[..., 1:] = _nlmeans_np(lab[..., 1:], h_color, strip_rows)
    return _lab_to_lbgr_u8(out)


def nlmeans_denoise(img: np.ndarray, h: float = 10.0) -> np.ndarray:
    """cv2.fastNlMeansDenoising / fastNlMeansDenoisingColored
    (noise_removal.py:33-53) — real cv2 when installed; otherwise the
    strip-wise numpy twins reproduce the OpenCV algorithms: grayscale
    via the _nlmeans_np invoker (same LUT binning, fixed-point weights, integer
    rounding) and color via _nlmeans_color_np (Lab split, L at h, ab
    jointly at hColor=h — matching the cv2 call below). The only
    residual gap vs real cv2 on color is the float-math Lab transform
    (±1 LSB vs OpenCV's fixed-point tables)."""
    cv2 = _cv2()
    if cv2 is not None:
        if img.ndim == 2:
            return cv2.fastNlMeansDenoising(
                img, None, h=h, templateWindowSize=7, searchWindowSize=21
            )
        return cv2.fastNlMeansDenoisingColored(
            img, None, h=h, hColor=h, templateWindowSize=7, searchWindowSize=21
        )
    if img.ndim == 2:
        return _nlmeans_np(img, h)
    return _nlmeans_color_np(img, h, h)


def rotate_expand(img: np.ndarray, angle_deg: float, bg: int = 255) -> np.ndarray:
    """Rotate about the center into an expanded bounding box, bg-filled.

    Matches the geometry of the reference deskew (rotation matrix about
    (w//2, h//2), new size h*|sin|+w*|cos| x h*|cos|+w*|sin|, constant
    border — deskew.py:60-96 / processor.py:244-279) with bilinear sampling.
    """
    h, w = img.shape[:2]
    theta = np.deg2rad(angle_deg)
    cos_a, sin_a = np.cos(theta), np.sin(theta)
    new_w = int(h * abs(sin_a) + w * abs(cos_a))
    new_h = int(h * abs(cos_a) + w * abs(sin_a))

    cx, cy = w // 2, h // 2
    # forward map (cv2.getRotationMatrix2D convention: positive = CCW in
    # image coords) plus the center shift into the expanded canvas
    tx = cx + (new_w - w) / 2.0
    ty = cy + (new_h - h) / 2.0
    # inverse map: dst -> src (float32 meshes — page coords fit exactly)
    dx = np.arange(new_w, dtype=np.float32) - np.float32(tx)
    dy = np.arange(new_h, dtype=np.float32) - np.float32(ty)
    cos_a32, sin_a32 = np.float32(cos_a), np.float32(sin_a)
    gx = dx[None, :] * cos_a32 - dy[:, None] * sin_a32 + np.float32(cx)
    gy = dx[None, :] * sin_a32 + dy[:, None] * cos_a32 + np.float32(cy)

    x0 = np.floor(gx).astype(np.int32)
    y0 = np.floor(gy).astype(np.int32)
    wx = gx - x0
    wy = gy - y0
    inside = (gx >= 0) & (gx <= w - 1) & (gy >= 0) & (gy <= h - 1)
    x0c = np.clip(x0, 0, w - 1)
    y0c = np.clip(y0, 0, h - 1)
    x1c = np.clip(x0 + 1, 0, w - 1)
    y1c = np.clip(y0 + 1, 0, h - 1)

    def _sample(ch: np.ndarray) -> np.ndarray:
        f = ch.astype(np.float32)
        v = (
            f[y0c, x0c] * (1 - wx) * (1 - wy)
            + f[y0c, x1c] * wx * (1 - wy)
            + f[y1c, x0c] * (1 - wx) * wy
            + f[y1c, x1c] * wx * wy
        )
        v = np.where(inside, v, float(bg))
        return np.clip(np.rint(v), 0, 255).astype(np.uint8)

    if img.ndim == 2:
        return _sample(img)
    return np.stack([_sample(img[..., c]) for c in range(img.shape[2])], axis=-1)


def dilate(mask: np.ndarray, k: int = 5, iterations: int = 2) -> np.ndarray:
    """Binary dilation with a k x k square kernel (separable max filter)."""
    out = mask.astype(bool)
    pad = k // 2
    for _ in range(iterations):
        p = np.pad(out, ((pad, pad), (0, 0)), mode="constant")
        out = np.logical_or.reduce([p[i : i + out.shape[0], :] for i in range(k)])
        p = np.pad(out, ((0, 0), (pad, pad)), mode="constant")
        out = np.logical_or.reduce([p[:, i : i + out.shape[1]] for i in range(k)])
    return out


def connected_components(mask: np.ndarray, min_area: int = 0):
    """8-connected component bounding boxes via row-run union-find.

    Returns a list of (x, y, w, h, area) tuples ordered by each
    component's first run in raster order — the stats the reference
    pulls from cv2.connectedComponentsWithStats (components.py:175-191).

    Vectorized over the whole mask: every row run is found at once, each
    run's touching runs in the row above come from two searchsorted
    calls (runs in a row are sorted and disjoint, so they form one
    contiguous range), and the runs are labelled by array union-find —
    hook the larger root under the smaller, then jump pointers until
    nothing changes. A component's root is thus its smallest run index,
    i.e. its first run in raster order.
    """
    h, w = mask.shape
    m = np.zeros((h, w + 2), dtype=np.int8)
    m[:, 1:-1] = mask != 0
    d = np.diff(m, axis=1)
    ry, rs = np.nonzero(d == 1)  # runs [rs, re) in raster order
    re = np.nonzero(d == -1)[1]
    n = rs.size
    if n == 0:
        return []
    # 8-connectivity between half-open runs on adjacent rows: touching
    # (incl. diagonals) iff prev_start <= end and start <= prev_end.
    # Keys row*(w+2)+col sort like (row, col) and never cross rows.
    stride = w + 2
    key_s = ry * stride + rs
    key_e = ry * stride + re
    above = (ry - 1) * stride
    lo = np.searchsorted(key_e, above + rs, side="left")
    hi = np.searchsorted(key_s, above + re, side="right")
    cnt = np.maximum(hi - lo, 0)
    a = np.repeat(np.arange(n), cnt)
    b = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(a.size)

    parent = np.arange(n)
    while a.size:
        ra, rb = parent[a], parent[b]
        apart = ra != rb
        if not apart.any():
            break
        a, b, ra, rb = a[apart], b[apart], ra[apart], rb[apart]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt

    roots, comp = np.unique(parent, return_inverse=True)
    k = roots.size
    minx = np.full(k, w, dtype=np.int64)
    np.minimum.at(minx, comp, rs)
    maxx = np.zeros(k, dtype=np.int64)
    np.maximum.at(maxx, comp, re - 1)
    maxy = np.zeros(k, dtype=np.int64)
    np.maximum.at(maxy, comp, ry)
    area = np.zeros(k, dtype=np.int64)
    np.add.at(area, comp, re - rs)
    miny = ry[roots]
    keep = area >= min_area
    return list(
        zip(
            minx[keep].tolist(),
            miny[keep].tolist(),
            (maxx - minx + 1)[keep].tolist(),
            (maxy - miny + 1)[keep].tolist(),
            area[keep].tolist(),
        )
    )
