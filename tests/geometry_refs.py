"""Per-component references for the batch detection geometry.

``ref/detect.detect_boxes`` handles every component of a page stack in
array operations. These are the one-image / one-component primitives it
replaced — a 2-D rect dilation, Andrew's monotone chain, one-hull
rotating calipers — and the per-component detection loop that chained
them, kept here as the reference the batch path is checked against.
CCL comes from a breadth-first search, so nothing here shares code with
the path under test except the thresholds and ``dilation_niter``.
"""

import numpy as np

from tuatara_spark.ref import detect as dt
from tuatara_spark.ref import geometry as g


def brute_ccl(b):
    """BFS CCL, 4-connectivity, labels in raster-first-pixel order."""
    b = np.asarray(b) != 0
    H, W = b.shape
    labels = np.zeros((H, W), dtype=np.int32)
    nxt = 1
    for r in range(H):
        for c in range(W):
            if b[r, c] and labels[r, c] == 0:
                stack = [(r, c)]
                labels[r, c] = nxt
                while stack:
                    y, x = stack.pop()
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        ny, nx_ = y + dy, x + dx
                        if 0 <= ny < H and 0 <= nx_ < W and b[ny, nx_] and labels[ny, nx_] == 0:
                            labels[ny, nx_] = nxt
                            stack.append((ny, nx_))
                nxt += 1
    return nxt, labels


def dilate_binary(img, ksize):
    """Binary dilation with a ksize×ksize rect kernel, OpenCV default anchor
    (k//2, k//2): dst(p) = max over offsets o in [-(k//2), k-1-k//2] of
    src(p+o), out-of-bounds treated as 0 (cv::dilate's -inf constant
    border for non-negative data). Separable sliding max."""
    k = int(ksize)
    if k <= 1:
        return img.copy()
    a = k // 2
    src = np.asarray(img)
    H, W = src.shape
    tmp = np.zeros_like(src)
    for o in range(-a, k - a):
        lo_d, hi_d = max(0, -o), min(H, H - o)
        lo_s, hi_s = max(0, o), min(H, H + o)
        np.maximum(tmp[lo_d:hi_d], src[lo_s:hi_s], out=tmp[lo_d:hi_d])
    out = np.zeros_like(src)
    for o in range(-a, k - a):
        lo_d, hi_d = max(0, -o), min(W, W - o)
        lo_s, hi_s = max(0, o), min(W, W + o)
        np.maximum(out[:, lo_d:hi_d], tmp[:, lo_s:hi_s], out=out[:, lo_d:hi_d])
    return out


def convex_hull(points):
    """Andrew monotone-chain convex hull, CCW, no collinear points kept.
    points: (N, 2) (x, y). Returns (H, 2) float64."""
    arr = np.asarray(points, dtype=np.float64)
    order = np.lexsort((arr[:, 1], arr[:, 0]))
    srt = arr[order]
    keep = np.ones(srt.shape[0], dtype=bool)
    keep[1:] = (srt[1:] != srt[:-1]).any(axis=1)
    pts = srt[keep]
    if pts.shape[0] <= 2:
        return pts
    seq = [(float(x), float(y)) for x, y in pts]

    def half(s):
        out = []
        for px, py in s:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(seq)
    upper = half(seq[::-1])
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.float64)


def min_area_rect(points):
    """One-hull cv::minAreaRect: rotating calipers over the hull-edge
    directions, ties broken by the first edge with strictly smaller
    area. Returns the 4 corners, (4, 2) float32."""
    hull = convex_hull(points)
    h = hull.shape[0]
    if h == 1:
        return np.repeat(hull, 4, axis=0).astype(np.float32)
    if h == 2:
        p0, p1 = hull
        return np.asarray([p0, p1, p1, p0], dtype=np.float32)
    edges = np.roll(hull, -1, axis=0) - hull
    lens = np.hypot(edges[:, 0], edges[:, 1])
    good = lens > 0
    dirs = edges[good] / lens[good, None]
    normals = np.stack([-dirs[:, 1], dirs[:, 0]], 1)
    pd = dirs @ hull.T
    pn = normals @ hull.T
    d0, d1 = pd.min(1), pd.max(1)
    n0, n1 = pn.min(1), pn.max(1)
    areas = (d1 - d0) * (n1 - n0)
    i = int(np.argmin(areas))
    d, nrm = dirs[i], normals[i]
    return np.asarray([
        d * d0[i] + nrm * n0[i],
        d * d1[i] + nrm * n0[i],
        d * d1[i] + nrm * n1[i],
        d * d0[i] + nrm * n1[i],
    ], dtype=np.float32)


def detected_boxes(textmap, linkmap):
    """The per-component detection loop (tuatara.cpp:119-204): for each
    component, its ROI segmap, a 2-D dilation, row extremes and one
    minAreaRect. Returns the list of (4, 2) float32 corners in label
    order."""
    tn = dt.minmax_normalize(textmap)
    ln = dt.minmax_normalize(linkmap)
    img_h, img_w = tn.shape
    text_score = tn > np.float32(dt.LOW_TEXT)
    link_score = ln > np.float32(dt.LINK_THRESHOLD)
    n_labels, labels = brute_ccl(text_score | link_score)
    link_only = link_score & ~text_score
    det = []
    for k in range(1, n_labels):
        ys, xs = np.nonzero(labels == k)
        if ys.size < 10:
            continue
        if tn[ys, xs].max() < np.float32(dt.TEXT_THRESHOLD):
            continue
        x, y = int(xs.min()), int(ys.min())
        w, h = int(xs.max()) - x + 1, int(ys.max()) - y + 1
        niter = int(g.dilation_niter(ys.size, w, h))
        sx, sy = max(0, x - niter), max(0, y - niter)
        ex, ey = min(img_w, x + w + niter + 1), min(img_h, y + h + niter + 1)
        seg = np.where(labels[sy:ey, sx:ex] == k, np.uint8(255), np.uint8(0))
        seg[link_only[sy:ey, sx:ex]] = 0
        seg = dilate_binary(seg, 1 + niter)
        rows = np.flatnonzero(seg.any(axis=1))
        first = seg[rows].argmax(axis=1)
        last = seg.shape[1] - 1 - seg[rows, ::-1].argmax(axis=1)
        pts = np.concatenate([np.stack([first + sx, rows + sy], axis=1),
                              np.stack([last + sx, rows + sy], axis=1)])
        det.append(min_area_rect(pts))
    return det
