import numpy as np
import pytest

from ocr_spark.imaging import kernels as K


def test_to_gray_weights():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[..., 0] = 255  # pure red
    assert int(K.to_gray(img)[0, 0]) == 76  # round(0.299*255)


def test_otsu_bimodal():
    img = np.concatenate([np.full(500, 30), np.full(500, 220)]).astype(np.uint8)
    t = K.otsu_threshold(img.reshape(20, 50))
    assert 30 <= t < 220
    b = K.binarize_otsu(img.reshape(20, 50))
    assert set(np.unique(b)) == {0, 255}


def test_binarize_otsu_invert():
    img = np.full((10, 10), 255, dtype=np.uint8)
    img[2:5, 2:5] = 0
    inv = K.binarize_otsu(img, invert=True)
    assert inv[3, 3] == 255 and inv[0, 0] == 0


def test_adaptive_keeps_small_marks():
    img = np.full((100, 100), 255, dtype=np.uint8)
    img[40:44, 40:44] = 0  # 4x4 mark, below any block size
    b = K.binarize_adaptive(img)
    assert b[41, 41] == 0 and b[10, 10] == 255


def test_normalize_minmax():
    img = (np.linspace(100, 160, 100).reshape(10, 10)).astype(np.uint8)
    out = K.normalize_minmax(img)
    assert out.min() == 0 and out.max() == 255


def test_median3_removes_salt():
    img = np.full((30, 30), 255, dtype=np.uint8)
    img[10, 10] = 0  # isolated pepper
    assert K.median3(img)[10, 10] == 255


def test_rotate_expand_geometry():
    img = np.full((100, 200), 255, dtype=np.uint8)
    out = K.rotate_expand(img, 90.0)
    # 90-degree rotation swaps dimensions (within rounding)
    assert abs(out.shape[0] - 200) <= 1 and abs(out.shape[1] - 100) <= 1


@pytest.mark.parametrize("angle", [-9.0, -4.0, -1.8, 1.8, 4.0, 9.0])
def test_hough_skew_roundtrip(angle):
    from ocr_spark.extract.glyph import render_page

    page = render_page(["hello world", "abc def ghi", "foo bar baz"], 640, 400)
    rot = K.rotate_expand(page, angle)
    det = K.hough_skew(rot)
    assert abs(det - angle) < 0.5
    # correction convention: rotate_expand(img, -detected) levels the image
    fixed = K.rotate_expand(rot, -det)
    assert abs(K.hough_skew(fixed)) < 0.5


def test_hough_skew_level_is_zero():
    from ocr_spark.extract.glyph import render_page

    page = render_page(["hello world", "abc def"], 640, 300)
    assert abs(K.hough_skew(page)) < 0.3


def test_connected_components():
    mask = np.zeros((20, 20), dtype=bool)
    mask[2:5, 2:6] = True  # area 12
    mask[10:12, 10:12] = True  # area 4
    mask[15, 0] = True  # area 1
    comps = K.connected_components(mask, min_area=2)
    assert len(comps) == 2
    assert (2, 2, 4, 3, 12) in comps and (10, 10, 2, 2, 4) in comps


def test_connected_components_diagonal_8conn():
    mask = np.zeros((5, 5), dtype=bool)
    mask[1, 1] = True
    mask[2, 2] = True  # diagonal touch -> one component
    comps = K.connected_components(mask, min_area=0)
    assert len(comps) == 1 and comps[0][4] == 2


def test_dilate():
    mask = np.zeros((11, 11), dtype=bool)
    mask[5, 5] = True
    out = K.dilate(mask, k=5, iterations=2)
    assert out[1, 1] and out[9, 9] and not out[0, 0]


def test_resize_shapes_and_identity():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    assert K.resize_bilinear(img, 10, 10) is not img
    assert K.resize_bilinear(img, 23, 17).shape == (17, 23)
    rgb = np.stack([img] * 3, axis=-1)
    assert K.resize_bilinear(rgb, 30, 20).shape == (20, 30, 3)


def test_estimate_noise_gate():
    rng = np.random.default_rng(3)
    clean = np.full((200, 200), 255, dtype=np.uint8)
    assert K.estimate_noise(clean) < 0.05
    noisy = np.where(
        rng.random(clean.shape) < 0.08,
        rng.integers(0, 2, clean.shape).astype(np.uint8) * 255,
        clean,
    ).astype(np.uint8)
    assert K.estimate_noise(noisy) > 0.1


# --------------------------------------------------------------------------
# cv2-fidelity kernels (VERDICT r2 missing #2)
# --------------------------------------------------------------------------


def test_cubic_weights_partition_of_unity():
    ts = np.linspace(0.0, 0.999, 64).astype(np.float32)
    w = K._cubic_weights(ts)
    assert w.shape == (4, 64)
    assert np.allclose(w.sum(axis=0), 1.0, atol=1e-5)


def test_bicubic_identity_and_shapes():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    assert np.array_equal(K._resize_bicubic_np(img, 10, 10), img)
    assert K._resize_bicubic_np(img, 23, 17).shape == (17, 23)
    rgb = np.stack([img] * 3, axis=-1)
    assert K._resize_bicubic_np(rgb, 30, 20).shape == (20, 30, 3)


def test_bicubic_reproduces_linear_ramp():
    """Keys kernels reproduce linear functions exactly: upscaling a
    horizontal ramp must stay linear in the interior (within rounding)."""
    w = 64
    ramp = np.tile(np.arange(w, dtype=np.uint8) * 2, (16, 1))
    out = K._resize_bicubic_np(ramp, 2 * w, 16)
    xs = (np.arange(2 * w) + 0.5) * 0.5 - 0.5
    want = np.clip(xs * 2, 0, 2 * (w - 1))
    got = out[8, 4:-4].astype(np.float64)
    assert np.max(np.abs(got - want[4:-4])) <= 1.0


def test_bicubic_overshoot_clipped():
    """Cubic interpolation overshoots at step edges; output must clip to
    [0, 255] instead of wrapping the uint8."""
    img = np.zeros((8, 16), dtype=np.uint8)
    img[:, 8:] = 255
    out = K._resize_bicubic_np(img, 64, 8)
    assert out.min() == 0 and out.max() == 255
    # monotone outside the edge neighborhood — no wraparound artifacts
    assert out[0, 0] == 0 and out[0, -1] == 255


def test_gaussian_kernel_matches_cv2_formula():
    g = K._gaussian_kernel_1d(11)
    assert abs(float(g.sum()) - 1.0) < 1e-6
    assert np.array_equal(g, g[::-1])  # symmetric
    sigma = 0.3 * ((11 - 1) * 0.5 - 1) + 0.8
    t = np.arange(11, dtype=np.float64) - 5
    want = np.exp(-(t * t) / (2 * sigma * sigma))
    want /= want.sum()
    assert np.allclose(g, want, atol=1e-6)


def test_adaptive_gaussian_semantics():
    flat = np.full((240, 240), 200, dtype=np.uint8)
    assert (K._binarize_adaptive_gaussian_np(flat, 11.0) == 255).all()
    page = np.full((240, 240), 255, dtype=np.uint8)
    page[118:122, 40:200] = 0  # thin dark stroke (narrower than block)
    out = K._binarize_adaptive_gaussian_np(page, 11.0)
    assert out[120, 120] == 0 and out[10, 10] == 255


def test_fidelity_dispatchers_without_cv2():
    """Without cv2 the dispatchers must route to the numpy equivalents
    (grayscale nlmeans to the numpy twin; color nlmeans to the r5
    Lab-space colored twin, hColor = h like the cv2 call)."""
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    rgb = np.stack([img] * 3, axis=-1)
    if K._cv2() is None:
        assert np.array_equal(
            K.resize_bicubic(img, 23, 17), K._resize_bicubic_np(img, 23, 17)
        )
        assert np.array_equal(K.nlmeans_denoise(img), K._nlmeans_np(img, 10.0))
        assert np.array_equal(
            K.nlmeans_denoise(rgb), K._nlmeans_color_np(rgb, 10.0, 10.0)
        )
    else:
        got = K.resize_bicubic(img, 23, 17).astype(np.int16)
        want = K._resize_bicubic_np(img, 23, 17).astype(np.int16)
        # float vs cv2 fixed-point: at most off-by-one per pixel
        assert np.abs(got - want).max() <= 1


def test_nlmeans_np_flat_image_is_identity():
    """All template distances are 0 on a constant image -> every search
    weight equals the max -> the weighted mean is the pixel itself."""
    for v in (0, 128, 255):
        img = np.full((40, 50), v, dtype=np.uint8)
        assert np.array_equal(K._nlmeans_np(img, 10.0), img)


def test_nlmeans_np_strip_invariance():
    """The strip decomposition is an implementation detail: any strip
    height must produce byte-identical output."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(70, 45), dtype=np.uint8)
    full = K._nlmeans_np(img, 10.0, strip_rows=1024)
    for rows in (7, 16, 33):
        assert np.array_equal(K._nlmeans_np(img, 10.0, strip_rows=rows), full)


def test_nlmeans_np_denoises_small_amplitude_noise():
    """NL-means' regime: small-amplitude noise on flat areas averages
    away (patch distances ~2*sigma^2 keep many weights alive at h=10)
    while structure (a solid block edge) survives. Large impulses are
    deliberately NOT tested — with mean-square patch distance >> h^2
    their weights underflow the 0.1% threshold and NL-means passes them
    through, exactly like cv2 (salt-and-pepper is median3's job)."""
    rng = np.random.default_rng(5)
    img = np.full((80, 80), 180, dtype=np.uint8)
    img[30:50, 20:60] = 60  # a solid dark block (structure)
    noise = rng.integers(-10, 11, size=img.shape)
    noisy = np.clip(img.astype(int) + noise, 0, 255).astype(np.uint8)
    out = K._nlmeans_np(noisy, 10.0)
    err_before = np.abs(noisy.astype(int) - img).mean()
    err_after = np.abs(out.astype(int) - img).mean()
    assert err_after < err_before / 2, (err_before, err_after)
    # block interior and background survive near their true values
    assert abs(int(out[40, 40]) - 60) <= 6
    assert abs(int(out[10, 10]) - 180) <= 6


def test_nlmeans_np_matches_cv2_when_present():
    """Fidelity check against the real cv2 when installed (skips in this
    container): same LUT binning and fixed-point weights, so the twin
    should track cv2 within a pixel-value or two."""
    import pytest

    if K._cv2() is None:
        pytest.skip("cv2 not installed")
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(64, 80), dtype=np.uint8)
    got = K._nlmeans_np(img, 10.0).astype(np.int16)
    want = K.nlmeans_denoise(img, 10.0).astype(np.int16)
    assert np.abs(got - want).max() <= 2, np.abs(got - want).max()


def test_lab_roundtrip_u8():
    """linear-BGR -> Lab -> linear-BGR round-trips within quantization
    error on a dense color sweep (both directions clip+round to u8)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    back = K._lab_to_lbgr_u8(K._lbgr_to_lab_u8(img))
    # Lab u8 quantization (L in 100/255-unit steps, a/b whole units)
    # costs a few code values on the way back — one a/b unit spans ~4
    # RGB codes in saturated regions, same loss as cv2's own u8 Lab
    # round-trip; the transform must not drift beyond that
    assert np.abs(back.astype(np.int16) - img.astype(np.int16)).max() <= 5


def test_lab_gray_axis():
    """Neutral pixels (B=G=R) sit on the Lab gray axis: a = b = 128."""
    v = np.arange(0, 256, 5, dtype=np.uint8)
    img = np.stack([v, v, v], axis=-1).reshape(1, -1, 3)
    lab = K._lbgr_to_lab_u8(img)
    assert np.abs(lab[..., 1].astype(int) - 128).max() <= 1
    assert np.abs(lab[..., 2].astype(int) - 128).max() <= 1


def test_nlmeans_color_np_flat_image_is_identity():
    """Constant color image: every template distance is 0 in both the L
    and ab passes, so the output is the input (up to Lab u8
    quantization of the conversion itself)."""
    img = np.empty((40, 50, 3), dtype=np.uint8)
    img[...] = (37, 180, 91)
    out = K._nlmeans_color_np(img, 10.0, 10.0)
    roundtrip = K._lab_to_lbgr_u8(K._lbgr_to_lab_u8(img))
    assert np.array_equal(out, roundtrip)


def test_nlmeans_color_np_strip_invariance():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(70, 45, 3), dtype=np.uint8)
    full = K._nlmeans_color_np(img, 10.0, 10.0, strip_rows=1024)
    for rows in (7, 33):
        assert np.array_equal(
            K._nlmeans_color_np(img, 10.0, 10.0, strip_rows=rows), full
        )


def test_nlmeans_color_np_denoises_chroma_noise():
    """The property median3 could not reproduce: joint (a,b) vector
    averaging flattens small-amplitude CHROMA noise on a flat color
    field while a solid color edge survives."""
    rng = np.random.default_rng(5)
    img = np.empty((80, 80, 3), dtype=np.uint8)
    img[...] = (200, 160, 120)
    img[30:50, 20:60] = (60, 90, 150)  # solid block (structure)
    noise = rng.integers(-8, 9, size=img.shape)
    noisy = np.clip(img.astype(int) + noise, 0, 255).astype(np.uint8)
    out = K._nlmeans_color_np(noisy, 10.0, 10.0)
    err_before = np.abs(noisy.astype(int) - img).mean()
    err_after = np.abs(out.astype(int) - img).mean()
    # the Lab u8 round-trip itself costs ~1 code value even on clean
    # input — measure the denoise against that achievable floor
    floor = np.abs(
        K._lab_to_lbgr_u8(K._lbgr_to_lab_u8(img)).astype(int) - img
    ).mean()
    assert err_after - floor < (err_before - floor) / 2, (
        err_before,
        err_after,
        floor,
    )
    assert np.abs(out[40, 40].astype(int) - [60, 90, 150]).max() <= 8
    assert np.abs(out[10, 10].astype(int) - [200, 160, 120]).max() <= 8


def test_nlmeans_color_np_matches_cv2_when_present():
    """Fidelity check against real cv2.fastNlMeansDenoisingColored when
    installed (skips in this container): same Lab split and invoker
    constants; the float-math Lab transform vs OpenCV's fixed-point
    tables allows a few code values of slack."""
    import pytest

    if K._cv2() is None:
        pytest.skip("cv2 not installed")
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(64, 80, 3), dtype=np.uint8)
    got = K._nlmeans_color_np(img, 10.0, 10.0).astype(np.int16)
    want = K.nlmeans_denoise(img, 10.0).astype(np.int16)
    assert np.abs(got - want).max() <= 4, np.abs(got - want).max()


def test_preprocess_cv2_fidelity_mode_runs():
    """fidelity='cv2' swaps the three kernels without touching gates or
    step order; default configs (and therefore goldens) are unchanged."""
    from dataclasses import replace

    from ocr_spark.config import get_profile
    from ocr_spark.imaging.preprocess import preprocess

    rng = np.random.default_rng(7)
    img = np.full((300, 400), 255, dtype=np.uint8)
    img[40:60, 40:200] = 0
    img = np.where(rng.random(img.shape) < 0.15, 0, img).astype(np.uint8)

    base_cfg = get_profile("default").preprocess
    assert base_cfg.fidelity == "fast"
    hi = replace(base_cfg, fidelity="cv2")
    r_fast = preprocess(img, base_cfg)
    r_cv2 = preprocess(img, hi)
    assert r_cv2.steps_applied == r_fast.steps_applied
    assert r_cv2.image.shape[0] >= img.shape[0]  # scaling still applies


# --------------------------------------------------------------------------
# parity of the vectorized kernels with the loop/float code they replace.
# The reference functions below are the previous implementations, kept
# here (and only here) as the definition the engine must reproduce bit
# for bit.
# --------------------------------------------------------------------------


def _ref_connected_components(mask, min_area=0):
    """Python row-run union-find: O(runs x runs in the previous row)."""
    h, w = mask.shape
    parent = []

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    run_rows, prev = [], []
    m = mask.astype(np.int8)
    for y in range(h):
        diff = np.diff(np.concatenate(([0], m[y], [0])))
        cur = []
        for s, e in zip(np.flatnonzero(diff == 1), np.flatnonzero(diff == -1)):
            label = -1
            for ps, pe, pl in prev:
                if ps <= e and s <= pe:
                    if label == -1:
                        label = find(pl)
                    else:
                        ra, rb = find(label), find(pl)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
            if label == -1:
                label = len(parent)
                parent.append(label)
            cur.append((int(s), int(e), label))
            run_rows.append((y, int(s), int(e), label))
        prev = cur
    stats, order = {}, []
    for y, s, e, lab in run_rows:
        r = find(lab)
        st = stats.get(r)
        if st is None:
            stats[r] = [s, y, e - 1, y, e - s]
            order.append(r)
        else:
            st[0], st[2], st[3], st[4] = min(st[0], s), max(st[2], e - 1), y, st[4] + e - s
    return [
        (x0, y0, x1 - x0 + 1, y1 - y0 + 1, a)
        for x0, y0, x1, y1, a in (stats[r] for r in order)
        if a >= min_area
    ]


def _comb(n, tooth=1, gap=1):
    """Vertical teeth joined by a spine on the bottom row: every row has
    ~n/2 runs, the old loop's worst case, and the teeth only join at the
    very end."""
    mask = np.zeros((n, n), dtype=bool)
    for x in range(0, n, tooth + gap):
        mask[:, x : x + tooth] = True
    mask[-1] = True
    return mask


def _spiral(n):
    """One long serpentine component plus its complement's pieces."""
    mask = np.zeros((n, n), dtype=bool)
    for i, y in enumerate(range(0, n, 2)):
        mask[y] = True
        if y + 1 < n:
            mask[y + 1, -1 if i % 2 == 0 else 0] = True
    return mask


def _random_masks():
    rng = np.random.default_rng(11)
    masks = []
    for _ in range(60):
        h, w = rng.integers(1, 48, size=2)
        masks.append(rng.random((h, w)) < rng.uniform(0.05, 0.7))
    # dilated specks: the component splitter's input shape
    for _ in range(6):
        specks = rng.random((90, 120)) < 0.004
        masks.append(K.dilate(specks, k=5, iterations=2))
    return masks


@pytest.mark.parametrize("min_area", [0, 3])
def test_connected_components_matches_loop(min_area):
    edge_shapes = [np.ones((1, 1), bool), np.zeros((1, 1), bool),
                   np.array([[1, 0, 1, 1, 0, 1]], bool),
                   np.array([[1], [0], [1], [1]], bool),
                   np.ones((1, 37), bool), np.ones((29, 1), bool)]
    for mask in edge_shapes + _random_masks() + [_comb(60), _comb(61, 2, 3), _spiral(41)]:
        got = K.connected_components(mask, min_area=min_area)
        assert got == _ref_connected_components(mask, min_area=min_area)
        assert all(type(v) is int for box in got for v in box)


def test_connected_components_comb_is_fast():
    """An 800x800 comb (400 runs per row) took ~13 s in the old loop."""
    import time

    t0 = time.perf_counter()
    comps = K.connected_components(_comb(800))
    assert time.perf_counter() - t0 < 2.0
    assert comps == [(0, 0, 800, 800, 400 * 800 + 400)]


def _ref_sobel(gray):
    g = gray.astype(np.float32)
    p = np.pad(g, 1, mode="edge")
    gx = (p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:]) - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])
    gy = (p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:]) - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])
    return gx, gy


def test_sobel_integer_thresholds_exhaustive():
    """Over every integer gradient pair a uint8 Sobel can produce
    (|gx|, |gy| <= 4*255), the integer tests sobel_masks uses equal the
    float32 tests they replace: hypot > 200 and |gy| > 1.5|gx|."""
    v = np.arange(-1020, 1021, dtype=np.int32)
    gx, gy = np.meshgrid(v, v, indexing="ij")
    fx, fy = gx.astype(np.float32), gy.astype(np.float32)
    assert np.array_equal(np.hypot(fx, fy) > 200.0, gx * gx + gy * gy > 40000)
    assert np.array_equal(np.abs(fy) > 1.5 * np.abs(fx), 2 * np.abs(gy) > 3 * np.abs(gx))
    assert gx.size == 4_165_681


def _gray_images():
    from ocr_spark import fixtures as FX

    rng = np.random.default_rng(5)
    imgs = [rng.integers(0, 256, (h, w), dtype=np.uint8)
            for h, w in [(1, 1), (1, 9), (9, 1), (2, 3), (37, 53), (700, 90)]]
    for name in ("clean", "skewed", "noisy", "low_contrast", "inverted"):
        imgs.append(K.to_gray(dict(FX.PAGE_CLASSES)[name](np.random.default_rng(2))))
    return imgs


def test_sobel_masks_match_float_sobel():
    for gray in _gray_images():
        gx, gy = _ref_sobel(gray)
        mag = np.hypot(gx, gy)
        edges, horiz = K.sobel_masks(gray)
        assert np.array_equal(edges, mag > 200.0)
        assert np.array_equal(horiz, (mag > 200.0) & (np.abs(gy) > 1.5 * np.abs(gx)))


def _patch_with_gradient(gx, gy):
    """A 3x3 uint8 patch whose centre Sobel gradient is (gx, gy); gx and
    gy must share parity (true of every uint8 Sobel) and |gx|, |gy| <= 254."""
    q = gx % 2
    p = np.full((3, 3), 128, dtype=np.int32)
    p[1, 2] += (gx - q) // 2  # middle-right: 2 in gx
    p[0, 2] += q  # top-right: +1 in gx, -1 in gy
    p[2, 1] += (gy + q) // 2  # bottom-middle: 2 in gy
    return p.astype(np.uint8)


def test_sobel_masks_threshold_boundaries():
    """Gradients exactly on and next to both thresholds: magnitude 200
    is not an edge, |gy| = 1.5|gx| is not near-horizontal."""
    # (gx, gy) -> (edge, near-horizontal edge)
    cases = {
        (200, 0): (False, False), (0, 200): (False, False),
        (120, 160): (False, False), (160, -120): (False, False),
        (-120, -160): (False, False), (200, 2): (True, False),
        (0, 202): (True, True), (1, 201): (True, True),
        (140, 142): (False, False), (136, 204): (True, False),
        (-136, 204): (True, False), (136, -206): (True, True),
        (138, 206): (True, False), (0, 0): (False, False),
    }
    pairs = list(cases)
    img = np.hstack([_patch_with_gradient(gx, gy) for gx, gy in pairs])
    gx, gy = _ref_sobel(img)
    assert [(int(gx[1, 3 * i + 1]), int(gy[1, 3 * i + 1])) for i in range(len(pairs))] == pairs
    mag = np.hypot(gx, gy)
    edges, horiz = K.sobel_masks(img)
    assert np.array_equal(edges, mag > 200.0)
    assert np.array_equal(horiz, (mag > 200.0) & (np.abs(gy) > 1.5 * np.abs(gx)))
    assert list(zip(edges[1, 1::3].tolist(), horiz[1, 1::3].tolist())) == list(cases.values())


def _ref_estimate_noise(gray):
    """Median 5x5 local std-dev over float64 window means, normalized by
    50 and clamped to 1: the formula estimate_noise computes from exact
    integer window sums."""
    from numpy.lib.stride_tricks import sliding_window_view

    g = np.pad(gray.astype(np.float64), 2, mode="edge")
    mean = sliding_window_view(g, (5, 5)).mean(axis=(-2, -1))
    sq = sliding_window_view(g * g, (5, 5)).mean(axis=(-2, -1))
    return min(1.0, float(np.median(np.sqrt(np.abs(sq - mean * mean)))) / 50.0)


def test_estimate_noise_u8_matches_float_path():
    """The uint8 path (exact integer window sums in strips) gives the same
    float as a float64 sliding-window reference, strip boundaries
    included."""
    rng = np.random.default_rng(9)
    extra = [np.where(rng.random((400, 300)) < 0.1, 0, 255).astype(np.uint8)]
    for gray in _gray_images() + extra:
        assert K.estimate_noise(gray) == _ref_estimate_noise(gray)


def test_box_mean_u8_int64_path_wide_image():
    """A row wide enough for 255*k*(w+k+1) to reach 2^31: the int32
    running sums of this near-white image wrap past 2^31, yet every
    window sum (a difference of two of them) is exact, so the means
    equal a float64 reference."""
    from numpy.lib.stride_tricks import sliding_window_view

    k, h, w = 11, 3, 800_000
    assert 255 * k * (w + k + 1) >= 2**31
    rng = np.random.default_rng(12)
    img = np.where(rng.random((h, w)) < 0.01, 0, 255).astype(np.uint8)
    p = np.pad(img, k // 2, mode="edge")
    cols = sliding_window_view(p, k, axis=0).sum(axis=-1, dtype=np.float64)
    want = sliding_window_view(cols, k, axis=1).sum(axis=-1) / (k * k)
    assert np.array_equal(K.box_mean_u8(img, k), want)


@pytest.mark.parametrize(
    "fn",
    [K.estimate_noise, K.sobel_masks, K.binarize_adaptive, lambda g: K.box_mean_u8(g, 5)],
    ids=["estimate_noise", "sobel_masks", "binarize_adaptive", "box_mean_u8"],
)
def test_gray_kernels_reject_non_uint8(fn):
    for dtype in (np.float64, np.uint16):
        with pytest.raises(TypeError, match="uint8"):
            fn(np.full((20, 20), 128, dtype=dtype))


def _ref_resize_bilinear(img, new_w, new_h):
    h, w = img.shape[:2]
    xs = (np.arange(new_w) + 0.5) * (w / new_w) - 0.5
    ys = (np.arange(new_h) + 0.5) * (h / new_h) - 0.5
    x0 = np.clip(np.floor(xs), 0, w - 1).astype(np.int64)
    y0 = np.clip(np.floor(ys), 0, h - 1).astype(np.int64)
    x1, y1 = np.minimum(x0 + 1, w - 1), np.minimum(y0 + 1, h - 1)
    wx = np.clip(xs - x0, 0.0, 1.0).astype(np.float32)
    wy = np.clip(ys - y0, 0.0, 1.0).astype(np.float32)
    tail = (1,) * (img.ndim - 2)
    wx = wx.reshape((1, new_w) + tail)
    wy = wy.reshape((new_h, 1) + tail)
    f = img.astype(np.float32)
    row = f.take(x0, axis=1) * (1 - wx) + f.take(x1, axis=1) * wx
    out = row.take(y0, axis=0) * (1 - wy) + row.take(y1, axis=0) * wy
    return (out + 0.5).astype(np.uint8)


@pytest.mark.parametrize("shape", [(37, 53), (1, 17), (17, 1), (301, 203, 3), (64, 48, 4)])
@pytest.mark.parametrize("scale", [(0.37, 0.61), (1.0, 2.3), (300 / 72, 300 / 72), (0.5, 0.5)])
def test_resize_bilinear_matches_whole_image(shape, scale):
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    new_w = max(1, int(shape[1] * scale[0]))
    new_h = max(1, int(shape[0] * scale[1]))
    got = K.resize_bilinear(img, new_w, new_h)
    ref = _ref_resize_bilinear(img, new_w, new_h)
    assert got.dtype == np.uint8 and got.shape == ref.shape
    assert np.array_equal(got, ref)


def test_resize_bilinear_many_strips():
    """A tall upscale and a tall downscale cross many strip boundaries."""
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (900, 700), dtype=np.uint8)
    for new_w, new_h in [(2917, 3750), (311, 229)]:
        assert np.array_equal(
            K.resize_bilinear(img, new_w, new_h), _ref_resize_bilinear(img, new_w, new_h)
        )
