"""Geometry kernel tests (CCL, dilation, minAreaRect, rounding, resize)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tuatara_spark.ref import geometry as g
from tuatara_spark.ref import resize as rz

from geometry_refs import brute_ccl as _brute_ccl
from geometry_refs import dilate_binary


# ---------------------------------------------------------------- CCL ------

def _ccl_with_stats(b):
    """cv::connectedComponentsWithStats of one image through the batch CCL:
    (n_labels, labels, stats) with stats rows [left, top, width, height,
    area] for labels 1.. (row 0 unused)."""
    runs = g.label_runs(np.asarray(b)[None])
    stats = np.zeros((runs.n_comp + 1, 5), dtype=np.int64)
    if runs.n_comp:
        left, top, right, bottom, area = g.component_stats(runs)
        stats[1:] = np.stack([left, top, right - left + 1,
                              bottom - top + 1, area], axis=1)
    return runs.n_comp + 1, g.paint_labels(runs, (1,) + b.shape)[0], stats


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10**9), st.integers(4, 24), st.integers(4, 24),
       st.floats(0.2, 0.7))
def test_ccl_matches_bruteforce(seed, h, w, density):
    rng = np.random.default_rng(seed)
    b = (rng.random((h, w)) < density).astype(np.uint8)
    n1, l1 = _brute_ccl(b)
    n2, l2, stats = _ccl_with_stats(b)
    assert n1 == n2
    assert (l1 == l2).all()  # identical label NUMBERING, not just partition
    # stats vs brute force
    for k in range(1, n2):
        ys, xs = np.nonzero(l2 == k)
        assert stats[k, 0] == xs.min()
        assert stats[k, 1] == ys.min()
        assert stats[k, 2] == xs.max() - xs.min() + 1
        assert stats[k, 3] == ys.max() - ys.min() + 1
        assert stats[k, 4] == len(xs)


def test_ccl_empty_and_full():
    n, l, s = _ccl_with_stats(np.zeros((5, 5), np.uint8))
    assert n == 1 and (l == 0).all()
    n, l, s = _ccl_with_stats(np.ones((5, 5), np.uint8))
    assert n == 2 and (l == 1).all() and s[1, 4] == 25


def test_ccl_diagonal_not_connected():
    b = np.eye(4, dtype=np.uint8)
    n, l, _ = _ccl_with_stats(b)
    assert n == 5  # 4-connectivity: diagonals are separate components


def test_ccl_label_order_is_raster_first_pixel():
    b = np.array([
        [0, 0, 0, 1],
        [1, 0, 0, 1],
        [1, 0, 0, 0],
    ], np.uint8)
    n, l, _ = _ccl_with_stats(b)
    assert n == 3
    assert l[0, 3] == 1  # first pixel in raster order
    assert l[1, 0] == 2


# ------------------------------------------------------------ dilation -----

def _brute_dilate(img, k):
    a = k // 2
    H, W = img.shape
    out = np.zeros_like(img)
    for y in range(H):
        for x in range(W):
            v = 0
            for dy in range(-a, k - a):
                for dx in range(-a, k - a):
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < H and 0 <= xx < W:
                        v = max(v, img[yy, xx])
            out[y, x] = v
    return out


def _row_extremes(img):
    rows = np.flatnonzero(img.any(axis=1))
    first = img[rows].argmax(axis=1)
    last = img.shape[1] - 1 - img[rows, ::-1].argmax(axis=1)
    return rows, first, last


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 10**9), st.integers(1, 6))
def test_dilate_matches_bruteforce(seed, k):
    """Row-extreme dilation of several images in one call (ink inside
    each image's ROI on a shared canvas, ROIs at the canvas border or
    inside it) equals the row extremes of the brute-force dilated ROI
    crop; k = 1 is the reference's niter = 0. The per-component 2-D
    dilation that ``tests/geometry_refs.py`` keeps is checked too."""
    rng = np.random.default_rng(seed)
    H, W = 14, 17
    rois, want, src = [], [], []
    for s in range(3):
        x0, y0 = (0, 0) if s == 0 else rng.integers(0, 6, 2)
        x1, y1 = (W, H) if s == 0 else (x0 + rng.integers(1, W - x0 + 1),
                                        y0 + rng.integers(1, H - y0 + 1))
        crop = (rng.random((y1 - y0, x1 - x0)) < 0.2).astype(np.uint8) * 255
        crop[rng.integers(y1 - y0), rng.integers(x1 - x0)] = 255
        rows, first, last = _row_extremes(crop)
        src.append((np.full(rows.size, s), rows + y0, first + x0, last + x0))
        dilated = _brute_dilate(crop, k)
        assert (dilate_binary(crop, k) == dilated).all()  # the 2-D reference
        rows, first, last = _row_extremes(dilated)
        want += [(s, r + y0, f + x0, t + x0) for r, f, t in zip(rows, first, last)]
        rois.append((x0, y0, x1, y1))
    sets, rows, first, last = (np.concatenate(v) for v in zip(*src))
    roi = tuple(np.array(v) for v in zip(*rois))
    got = g.dilate_row_extremes(sets, rows, first, last, np.full(3, k), roi)
    assert list(zip(*(v.tolist() for v in got))) == \
        [tuple(int(x) for x in w) for w in want]


def test_dilation_niter_integer_arithmetic():
    # C++ all-int expression: (size*min(w,h)) / (w*h) * 2, then sqrt, trunc
    assert g.dilation_niter(100, 10, 20) == int(np.sqrt(100 * 10 // 200 * 2))
    assert g.dilation_niter(9, 3, 3) == int(np.sqrt(9 * 3 // 9 * 2))  # sqrt(6)=2
    assert g.dilation_niter(10, 5, 11) == 0  # 10*5//55 = 0
    # quirk Q2: x2 inside sqrt — sqrt(a*2) != sqrt(a)*2
    assert g.dilation_niter(200, 20, 10) == int(np.sqrt((200 * 10 // 200) * 2))


# --------------------------------------------------------- minAreaRect -----

def _min_area_rect(points):
    pts = np.asarray(points, dtype=np.float64)
    return g.min_area_rects(pts, np.array([len(pts)]))[0]


def _rect_area(corners):
    c = np.asarray(corners, dtype=np.float64)
    w = np.hypot(*(c[1] - c[0]))
    h = np.hypot(*(c[2] - c[1]))
    return w * h


def _brute_min_area(points):
    """Min over fine angle sweep — lower bound witness for optimality."""
    pts = np.asarray(points, dtype=np.float64)
    best = np.inf
    for ang in np.linspace(0, np.pi / 2, 3601):
        d = np.array([np.cos(ang), np.sin(ang)])
        n = np.array([-d[1], d[0]])
        pd = pts @ d
        pn = pts @ n
        a = (pd.max() - pd.min()) * (pn.max() - pn.min())
        best = min(best, a)
    return best


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 10**9), st.integers(3, 40))
def test_min_area_rect_optimal_and_covering(seed, n):
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 50, size=(n, 2)).astype(np.float64)
    corners = _min_area_rect(pts).astype(np.float64)
    # covering: every point inside rect (within eps)
    e1 = corners[1] - corners[0]
    e2 = corners[3] - corners[0]
    rel = pts - corners[0]
    for v, ln in ((e1, np.dot(e1, e1)), (e2, np.dot(e2, e2))):
        if ln > 0:
            t = rel @ v / ln
            # float32 corners → tolerance must be absolute in PIXELS, not
            # relative in t (a near-degenerate sliver rect makes relative
            # slop unbounded): distance outside the rect ≤ 1e-3 px
            dist_out = np.maximum(-t, t - 1) * np.sqrt(ln)
            assert (dist_out <= 1e-3).all()
    # optimality: area within tolerance of fine angle sweep
    area = _rect_area(corners)
    assert area <= _brute_min_area(pts) * (1 + 1e-3) + 1e-6


def test_min_area_rect_degenerate():
    one = _min_area_rect(np.array([[3.0, 4.0]]))
    assert (one == np.float32([3, 4])).all()
    two = _min_area_rect(np.array([[0.0, 0.0], [2.0, 2.0]]))
    assert _rect_area(two) == 0.0
    col = _min_area_rect(np.array([[0, 0], [1, 1], [2, 2], [3, 3]], float))
    assert _rect_area(col) < 1e-9


def test_min_area_rect_axis_aligned_square():
    pts = np.array([[0, 0], [0, 4], [4, 0], [4, 4], [2, 2]], float)
    c = _min_area_rect(pts)
    assert abs(_rect_area(c) - 16.0) < 1e-6
    assert set(map(tuple, np.round(c).astype(int).tolist())) == {
        (0, 0), (0, 4), (4, 0), (4, 4)}


# ----------------------------------------------- S15/S16 + bbox helpers ----

def test_square_override_triggers_on_near_square():
    corners = np.array([[0, 0], [10, 0], [10, 10.5], [0, 10.5]], np.float32)
    pts = np.array([[1, 2], [9, 2], [1, 9], [9, 9]])
    out = g.square_override(corners, pts)
    assert (out == np.float32([[1, 2], [9, 2], [9, 9], [1, 9]])).all()


def test_square_override_skips_elongated():
    corners = np.array([[0, 0], [30, 0], [30, 10], [0, 10]], np.float32)
    out = g.square_override(corners, np.array([[1, 1]]))
    assert (out == corners).all()


def test_canonicalize_corners():
    c = np.array([[5, 5], [0, 5], [0, 0], [5, 0]], np.float32)
    out = g.canonicalize_corners(c)
    assert (out[0] == np.float32([0, 0])).all()


def test_round_half_away_vs_bankers():
    x = np.array([0.5, 1.5, 2.5, -0.5, -1.5, 2.4, -2.5])
    assert (g.round_half_away(x) == np.array([1, 2, 3, -1, -2, 2, -3])).all()
    # np.round would give [0, 2, 2, -0, -2, 2, -2] — quirk Q7 is real
    assert not (np.round(x) == g.round_half_away(x)).all()


def test_rect_to_tesseract_bbox():
    corners = np.array([[1.2, 3.5], [10.49, 3.5], [10.49, 8.5], [1.2, 8.5]])
    bbox = g.rect_to_tesseract_bbox(corners)
    assert bbox.dtype == np.float32
    assert (bbox == np.float32([1, 4, 10, 9])).all()


def test_bounding_rect_rule():
    corners = np.array([[1.2, 2.0], [5.7, 2.0], [5.7, 6.3], [1.2, 6.3]])
    assert g.bounding_rect(corners) == (1, 2, 6, 6)  # ceil(5.7)-1+1=6, ceil(6.3)-2+1=6


def test_adjust_result_coordinates_scales():
    corners = [np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 2.0], [1.0, 2.0]])]
    out = g.adjust_result_coordinates(corners, 1.0, 1.0, ratio_net=2.0)[0]
    xs, ys = out[:, 0], out[:, 1]
    assert xs.min() == 2.0 and xs.max() == 6.0
    assert ys.min() == 2.0 and ys.max() == 4.0


# ---------------------------------------------------------------- resize ---

def test_resize_identity():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)
    assert (rz.resize_bilinear(img, 9, 8) == img).all()


def test_resize_2x_downscale_is_block_mean():
    # half-pixel centers: exact 2x downscale averages 2x2 blocks
    img = np.arange(16, dtype=np.uint8).reshape(4, 4) * 10
    out = rz.resize_bilinear(img, 2, 2)
    blocks = img.reshape(2, 2, 2, 2).mean((1, 3))
    assert (out == np.floor(blocks + 0.5)).all()


def test_resize_constant_image():
    img = np.full((13, 7, 3), 77, np.uint8)
    assert (rz.resize_bilinear(img, 128, 32) == 77).all()


def test_resize_aspect_ratio_small_page_noop():
    img = np.full((256, 256, 3), 200, np.uint8)
    resized, ratio, hm = rz.resize_aspect_ratio(img, 1024, 1.0)
    assert ratio == 1.0 and resized.shape == (256, 256, 3)
    assert hm == (128, 128)


def test_resize_aspect_ratio_cap_and_pad():
    img = np.full((2048, 1000, 3), 10, np.uint8)
    resized, ratio, hm = rz.resize_aspect_ratio(img, 1024, 1.0)
    assert ratio == 0.5
    # target 1024x500 → padded to 1024x512
    assert resized.shape == (1024, 512, 3)
    assert (resized[:, 500:] == 0).all()  # zero pad
    assert hm == (250, 512)


def test_resize_aspect_ratio_mag_ratio():
    img = np.full((100, 50, 3), 10, np.uint8)
    resized, ratio, _ = rz.resize_aspect_ratio(img, 1024, 1.5)
    assert ratio == 1.5
    assert resized.shape == (160, 96, 3)  # 150x75 padded to 160x96


def test_swap_channels_involution():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    assert (rz.swap_channels(rz.swap_channels(img)) == img).all()
    assert (rz.swap_channels(img)[..., 0] == img[..., 2]).all()
