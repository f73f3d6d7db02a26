"""Detection post-processing geometry (reference tuatara.cpp:119-274).

Pure NumPy re-implementations of the OpenCV primitives the reference
delegates to, with the reference's exact call semantics:

* connected-component labeling with stats, 4-connectivity, labels numbered
  in raster order of each component's first pixel
  (cv::connectedComponentsWithStats, tuatara.cpp:139-142);
* size-adaptive binary dilation with a rect kernel inside an ROI
  (cv::getStructuringElement + cv::dilate, tuatara.cpp:162-174);
* minimum-area rotated rectangle via convex hull + rotating calipers
  (cv::minAreaRect, tuatara.cpp:176-181, 248);
* coordinate rescale + re-fit (adjust_result_coordinates, tuatara.cpp:236-253);
* RotatedRect::boundingRect integer rule (used by the crop at tuatara.cpp:416);
* bbox output with half-away-from-zero rounding (std::round, quirk Q7,
  tuatara.cpp:256-274).

The detection stages work on many images at once — every page of a
stack, every component of a batch — in array operations, with no Python
loop over pages, components, runs or hull points; results are per image
exactly the one-image primitives' (tests/geometry_refs.py keeps those as
the reference).

These are clean-room implementations from the public algorithm definitions;
no reference code is copied (the reference delegates all of this to OpenCV).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np


# ---------------------------------------------------------------------------
# Connected components (S9)
# ---------------------------------------------------------------------------

class Runs(NamedTuple):
    """The labelled foreground runs of an (N, H, W) stack, in raster order.

    row: stack row (``page * H + page_row``); start / end: first and
    one-past-last column; comp: 0-based component id, numbered in raster
    order of each component's first pixel over the whole stack, so a
    page's components are one consecutive block of ids (quirk Q5)."""
    row: np.ndarray
    start: np.ndarray
    end: np.ndarray
    comp: np.ndarray
    n_comp: int


def find_runs(binary: np.ndarray):
    """Horizontal runs of a 2-D mask (nonzero = foreground), raster order:
    (row, start, end) int64, ``end`` exclusive."""
    b = np.asarray(binary) != 0
    rows, w = b.shape
    # a False column on both sides ends every run inside its own row
    pad = np.zeros((rows, w + 2), dtype=bool)
    pad[:, 1:-1] = b
    flat = pad.ravel()
    edge = np.flatnonzero(flat[1:] != flat[:-1]) + 1   # rise, fall, rise, …
    starts, ends = edge[0::2], edge[1::2]
    row = starts // (w + 2)
    return row, starts - row * (w + 2) - 1, ends - row * (w + 2) - 1


def label_runs(binary: np.ndarray) -> Runs:
    """4-connectivity CCL of every page of an (N, H, W) stack at once,
    mirroring the reference's cv::connectedComponentsWithStats
    (tuatara.cpp:142) per page.

    Two runs on adjacent rows of one page join when their column
    intervals overlap (4-connectivity: strict overlap). The overlapping
    runs above a run are a contiguous range, found for all runs with two
    ``searchsorted`` calls. The union is min-label hooking with pointer
    jumping: every round hooks each edge's larger root under its smaller
    one, then compresses every path. Parents only ever point to smaller
    run indices, so each component's final root is its raster-first run,
    and numbering roots in run order numbers components in raster order
    of their first pixel. The round count depends on the shapes, not on
    how many runs or components there are."""
    n_pages, h, w = binary.shape
    row, start, end = find_runs(np.asarray(binary).reshape(n_pages * h, w))
    n = row.size
    if n == 0:
        return Runs(row, start, end, np.zeros(0, dtype=np.int64), 0)
    stride = w + 2                              # > any column, so keys sort
    key_start, key_end = row * stride + start, row * stride + end
    below = np.flatnonzero(row % h != 0)        # runs with a row above
    above = (row[below] - 1) * stride
    lo = np.searchsorted(key_end, above + start[below], side="right")
    hi = np.searchsorted(key_start, above + end[below], side="left")
    cnt = np.maximum(hi - lo, 0)
    a = np.repeat(below, cnt)
    b = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
    parent = np.arange(n)
    while a.size:
        pa, pb = parent[a], parent[b]
        live = pa != pb
        a, b, pa, pb = a[live], b[live], pa[live], pb[live]
        parent[np.maximum(pa, pb)] = np.minimum(pa, pb)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    is_root = parent == np.arange(n)
    comp = (np.cumsum(is_root) - 1)[parent]
    return Runs(row, start, end, comp, int(is_root.sum()))


def component_stats(runs: Runs):
    """Per component, in id order: (left, top, right, bottom, area),
    int64, with ``top``/``bottom`` stack rows and ``right``/``bottom``
    inclusive (cv::CC_STAT_* up to width = right - left + 1)."""
    order = np.argsort(runs.comp, kind="stable")
    counts = np.bincount(runs.comp, minlength=runs.n_comp)
    seg = np.cumsum(counts) - counts
    rows = runs.row[order]
    left = np.minimum.reduceat(runs.start[order], seg)
    right = np.maximum.reduceat(runs.end[order], seg) - 1
    area = np.add.reduceat((runs.end - runs.start)[order], seg)
    return left, rows[seg], right, np.maximum.reduceat(rows, seg), area


def comp_at(runs: Runs, width: int, rows: np.ndarray,
            cols: np.ndarray) -> np.ndarray:
    """Component id of each foreground pixel (stack row, column)."""
    stride = width + 2
    run = np.searchsorted(runs.row * stride + runs.start,
                          rows * stride + cols, side="right") - 1
    return runs.comp[run]


def paint_labels(runs: Runs, shape: tuple[int, int, int]) -> np.ndarray:
    """The (N, H, W) int32 label image: 0 = background, and each page's
    components numbered 1.. in raster order of their first pixel."""
    n_pages, h, w = shape
    labels = np.zeros(n_pages * h * w, dtype=np.int32)
    if runs.row.size == 0:
        return labels.reshape(shape)
    page = runs.row // h
    first = runs.comp[np.searchsorted(page, page)]   # page's first comp id
    lengths = runs.end - runs.start
    pos = (np.arange(lengths.sum())
           + np.repeat(runs.row * w + runs.start - (np.cumsum(lengths) - lengths),
                       lengths))
    labels[pos] = np.repeat(runs.comp - first + 1, lengths)
    return labels.reshape(shape)


# ---------------------------------------------------------------------------
# Dilation (S13)
# ---------------------------------------------------------------------------

def dilation_niter(size, w, h):
    """Size-adaptive dilation radius, quirk Q2: the ×2 is INSIDE the sqrt.
    The reference's ``size * min(w, h) / (w * h) * 2`` (tuatara.cpp:166)
    is all-int C++ arithmetic — left to right, integer division — and only
    its result goes through ``std::sqrt``, truncated back to int.
    Elementwise over arrays."""
    v = size * np.minimum(w, h) // (w * h) * 2
    return np.sqrt(v).astype(np.int64)


def dilate_row_extremes(sets, rows, first, last, ksize, roi):
    """Binary dilation with a ksize×ksize rect kernel and OpenCV's default
    anchor ``a = ksize // 2`` inside an ROI (cv::dilate, tuatara.cpp:173-174),
    on row extremes instead of pixels, for many images at once.

    ``sets[i], rows[i], first[i], last[i]``: image ``sets[i]`` has ink on
    row ``rows[i]`` from column ``first[i]`` to ``last[i]`` (its row
    extremes, inclusive). ``ksize`` and ``roi = (x0, y0, x1, y1)`` (ends
    exclusive) are per image. A kernel of size k lights, for a source
    pixel q, every destination within [q - (k-1-a), q + a] on both axes,
    so a source row's extremes light rows [r - (k-1-a), r + a] from
    column first - (k-1-a) to last + a, clipped to the ROI; a destination
    row's extremes are the min / max over the source rows that light it.
    Returns the dilated images' row extremes ``(sets, rows, first, last)``,
    ordered by image, then row."""
    x0, y0, x1, y1 = roi
    k = ksize[sets]
    back = k - 1 - k // 2
    src = np.repeat(np.arange(rows.size), k)
    dst_set = sets[src]
    dst_row = (rows - back)[src] + (np.arange(src.size)
                                    - np.repeat(np.cumsum(k) - k, k))
    ok = (dst_row >= y0[dst_set]) & (dst_row < y1[dst_set])
    src, dst_set, dst_row = src[ok], dst_set[ok], dst_row[ok]
    heights = y1 - y0
    base = np.cumsum(heights) - heights
    slot = base[dst_set] + dst_row - y0[dst_set]
    lo = np.full(heights.sum(), np.iinfo(np.int64).max)
    hi = np.full(heights.sum(), -1)
    np.minimum.at(lo, slot, np.maximum((first - back)[src], x0[dst_set]))
    np.maximum.at(hi, slot, np.minimum((last + k // 2)[src], x1[dst_set] - 1))
    lit = np.flatnonzero(hi >= 0)
    out_set = np.repeat(np.arange(heights.size), heights)[lit]
    return out_set, lit - base[out_set] + y0[out_set], lo[lit], hi[lit]


# ---------------------------------------------------------------------------
# Min-area rotated rect (S14) — convex hull + rotating calipers
# ---------------------------------------------------------------------------

def convex_hulls(points: np.ndarray, counts: np.ndarray):
    """Andrew's monotone-chain convex hull of many point sets at once:
    CCW, no collinear points kept, each hull starting at its set's
    lexicographically smallest (x, y) — Andrew's ``lower[:-1] +
    upper[:-1]``, vertex for vertex.

    points: (P, 2), the sets one after another; counts: (C,) set sizes,
    each ≥ 1. Returns (hull (Q, 2) float64, hull sizes (C,)).

    Each set is sorted and deduplicated, then laid out as its lower chain
    (sorted order) followed by its upper chain (reversed). Every round
    drops, in all chains at once, each interior point that makes a
    non-left turn with its current neighbours: such a point lies on or
    above the segment between two points of its set, so it is no strict
    hull vertex, and a chain with no such point left is strictly convex
    and holds every strict vertex — the unique chain Andrew's sequential
    pops end on."""
    pts = np.asarray(points, dtype=np.float64)
    n_sets = counts.size
    sets = np.repeat(np.arange(n_sets), counts)
    order = np.lexsort((pts[:, 1], pts[:, 0], sets))
    sets, x, y = sets[order], pts[order, 0], pts[order, 1]
    new = np.ones(x.size, dtype=bool)
    new[1:] = (sets[1:] != sets[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    sets, x, y = sets[new], x[new], y[new]
    n = np.bincount(sets, minlength=n_sets)
    off = np.cumsum(n) - n
    n2 = 2 * n
    j = np.arange(n2.sum()) - np.repeat(np.cumsum(n2) - n2, n2)
    owner = np.repeat(np.arange(n_sets), n2)
    upper = j >= n[owner]
    idx = off[owner] + np.where(upper, n2[owner] - 1 - j, j)
    chain = 2 * owner + upper
    while True:
        px, py = x[idx], y[idx]
        turn = ((px[1:-1] - px[:-2]) * (py[2:] - py[:-2])
                - (py[1:-1] - py[:-2]) * (px[2:] - px[:-2]))
        drop = ((turn <= 0) & (chain[1:-1] == chain[:-2])
                & (chain[1:-1] == chain[2:]))
        if not drop.any():
            break
        keep = np.ones(idx.size, dtype=bool)
        keep[1:-1] = ~drop
        idx, chain = idx[keep], chain[keep]
    # drop each chain's last point; a one-point set keeps its lower one
    keep = np.zeros(idx.size, dtype=bool)
    keep[:-1] = chain[1:] == chain[:-1]
    owner = chain // 2
    keep |= (n[owner] == 1) & (chain % 2 == 0)
    idx, owner = idx[keep], owner[keep]
    hull = np.stack([x[idx], y[idx]], axis=1)
    return hull, np.bincount(owner, minlength=n_sets)


def min_area_rects(points: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Minimum-area bounding rectangle of each of many point sets
    (cv::minAreaRect semantics as used at tuatara.cpp:179 and 248).
    points / counts as ``convex_hulls``. Returns (C, 4, 2) float32 corners.

    Corner order is a deterministic function of the winning hull edge
    (NOT OpenCV's bl/tl/tr/br convention); every reference use site only
    takes min/max over the corners or an axis-aligned bounding rect, so
    corner order never affects output (see tuatara.cpp:256-274, 416).

    Rotating calipers over hull-edge directions; ties broken by the first
    (lowest-index) edge with strictly smaller area. Every hull of one size
    goes through one stacked matmul: per hull it is the same BLAS call, on
    the same shapes, as a one-hull calipers — so the projections, and with
    them the equal-area tie-breaks, are bit for bit a one-hull pass's."""
    hull, sizes = convex_hulls(points, counts)
    start = np.cumsum(sizes) - sizes
    # every hull edge at once: vertex i to the next vertex of its hull
    nxt = np.arange(1, hull.shape[0] + 1)
    nxt[start + sizes - 1] = start
    edges = hull[nxt] - hull
    lens = np.hypot(edges[:, 0], edges[:, 1])
    dirs = edges / np.where(lens > 0, lens, 1)[:, None]   # 0 only if size 1
    normals = np.stack([-dirs[:, 1], dirs[:, 0]], axis=1)
    ext = np.zeros((hull.shape[0], 4))   # per edge: min/max along, across
    for size in np.unique(sizes[sizes >= 3]):
        idx = start[sizes == size, None] + np.arange(size)      # (S, h)
        pts_t = hull[idx].transpose(0, 2, 1)
        pd, pn = dirs[idx] @ pts_t, normals[idx] @ pts_t         # (S, h, h)
        ext[idx] = np.stack([pd.min(2), pd.max(2), pn.min(2), pn.max(2)], -1)
    d0, d1, n0, n1 = ext.T
    area = (d1 - d0) * (n1 - n0)
    # the first edge of each hull whose area is its hull's minimum
    low = area == np.repeat(np.minimum.reduceat(area, start), sizes)
    best = np.minimum.reduceat(np.where(low, np.arange(area.size), area.size),
                               start)
    # corners (d0, n0), (d1, n0), (d1, n1), (d0, n1) along (dir, normal)
    along, across = ext[best][:, [0, 1, 1, 0]], ext[best][:, [2, 2, 3, 3]]
    out = (dirs[best, None] * along[..., None]
           + normals[best, None] * across[..., None]).astype(np.float32)
    if (sizes < 3).any():
        p0, p1 = hull[start], hull[np.minimum(start + 1, hull.shape[0] - 1)]
        out[sizes == 1] = p0[sizes == 1, None]
        two = sizes == 2
        out[two] = np.stack([p0[two], p1[two], p1[two], p0[two]], axis=1)
    return out


# ---------------------------------------------------------------------------
# Square override + corner canonicalization (S15, S16)
# ---------------------------------------------------------------------------

def square_override(corners: np.ndarray, points: np.ndarray) -> np.ndarray:
    """Axis-align near-square boxes (tuatara.cpp:183-195): if the rect's
    aspect ratio is within 10% of square, replace corners with the
    axis-aligned extremes of the component pixels.

    NOTE (parity honesty): in the reference, the resulting corner array is
    computed and then DISCARDED — ``det`` receives the RotatedRect, not the
    corners (tuatara.cpp:200) — so this function never affects reference
    output. Implemented + tested for stage parity; the pipeline calls it
    only in debug mode.
    """
    c = np.asarray(corners, dtype=np.float64)
    box_w = float(np.hypot(*(c[0] - c[1])))
    box_h = float(np.hypot(*(c[1] - c[2])))
    box_ratio = max(box_w, box_h) / (min(box_w, box_h) + 1e-5)
    if abs(1 - box_ratio) <= 0.1:
        pts = np.asarray(points)
        l, t = pts[:, 0].min(), pts[:, 1].min()
        r, b = pts[:, 0].max(), pts[:, 1].max()
        return np.asarray([[l, t], [r, t], [r, b], [l, b]], dtype=np.float32)
    return np.asarray(c, dtype=np.float32)


def canonicalize_corners(corners: np.ndarray) -> np.ndarray:
    """Rotate the 4 corners so the one minimizing x+y comes first
    (tuatara.cpp:197-198). Also output-neutral in the reference (see
    square_override note)."""
    c = np.asarray(corners)
    start = int(np.argmin(c[:, 0] + c[:, 1]))
    return np.roll(c, -start, axis=0)


# ---------------------------------------------------------------------------
# Rescale, bounding rect, bbox output (S17, S18 helper, S26)
# ---------------------------------------------------------------------------

def adjust_result_coordinates(corner_list, ratio_w: float, ratio_h: float,
                              ratio_net: float = 2.0) -> list[np.ndarray]:
    """Scale box corners from half-res heatmap space back to source-image
    space and re-fit a min-area rect over the scaled corners
    (adjust_result_coordinates, tuatara.cpp:236-253). ``corner_list``: a
    list of (4, 2) corner arrays or one (B, 4, 2) array.

    Fast path: with equal x/y ratios (always true in the reference —
    tuatara.cpp:360-361 sets both to 1/target_ratio) a uniformly scaled
    rectangle IS its own min-area rect, so the re-fit is the identity on
    the corner set and is skipped; every reference consumer of the result
    takes only corner min/max (crop boundingRect at 416, bbox output at
    256-274), so outputs are unchanged. Unequal ratios re-fit every box
    in one ``min_area_rects`` pass.
    """
    c = np.array(corner_list, dtype=np.float64).reshape(-1, 4, 2)
    c[..., 0] *= ratio_w * ratio_net
    c[..., 1] *= ratio_h * ratio_net
    if ratio_w == ratio_h:
        return list(c.astype(np.float32))
    return list(min_area_rects(c.reshape(-1, 2), np.full(len(c), 4)))


def bounding_rect(corners: np.ndarray) -> tuple[int, int, int, int]:
    """cv::RotatedRect::boundingRect integer rule (used by the crop at
    tuatara.cpp:416): x = floor(min_x), y = floor(min_y),
    w = ceil(max_x) - x + 1, h = ceil(max_y) - y + 1."""
    c = np.asarray(corners, dtype=np.float64)
    x = int(np.floor(c[:, 0].min()))
    y = int(np.floor(c[:, 1].min()))
    w = int(np.ceil(c[:, 0].max())) - x + 1
    h = int(np.ceil(c[:, 1].max())) - y + 1
    return x, y, w, h


def round_half_away(x: np.ndarray) -> np.ndarray:
    """std::round semantics — half away from zero (quirk Q7; np.round is
    half-to-even and would differ at .5 boundaries)."""
    x = np.asarray(x)
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def rect_to_tesseract_bbox(corners: np.ndarray) -> np.ndarray:
    """Rotated-rect corners → axis-aligned [min_x, min_y, max_x, max_y],
    rounded half-away-from-zero, float32 (tuatara.cpp:256-274)."""
    c = np.asarray(corners, dtype=np.float64)
    vals = np.asarray([c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()])
    return round_half_away(vals).astype(np.float32)
