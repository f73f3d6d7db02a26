"""Detection post-processing: score maps → rotated boxes (reference
``get_detected_boxes``, tuatara.cpp:119-204).

Stage-for-stage transcription (S6-S16 in SURVEY.md §2) over NumPy:
normalize → threshold → combine → CCL → area/peak filters → segmap with
link-pixel removal → size-adaptive ROI dilation → minAreaRect.
"""

from __future__ import annotations

import numpy as np

from tuatara_spark.ref import geometry as g

TEXT_THRESHOLD = 0.7   # tuatara.cpp:397
LINK_THRESHOLD = 0.4   # tuatara.cpp:398
LOW_TEXT = 0.4         # tuatara.cpp:399


def minmax_normalize(m: np.ndarray) -> np.ndarray:
    """(x - min) / (max - min) (tuatara.cpp:120-121). On a constant map the
    reference divides 0/0 → NaN → every threshold comparison is false → no
    detections; we return zeros, which is observably identical (and
    warning-free)."""
    m = np.asarray(m, dtype=np.float32)
    mn = np.float32(m.min())
    mx = np.float32(m.max())
    if mx > mn:
        return ((m - mn) / (mx - mn)).astype(np.float32)
    return np.zeros_like(m)


def get_detected_boxes(textmap: np.ndarray, linkmap: np.ndarray):
    """Returns (det, labels): det = list of (4,2) float32 corner arrays in
    component-label order (quirk Q5 — raster order of first pixel), labels =
    the CCL label image. Mirrors tuatara.cpp:119-204 at the reference's
    fixed thresholds (TEXT_THRESHOLD, LINK_THRESHOLD, LOW_TEXT).

    The square-override and corner-canonicalization stages (S15/S16), whose
    results the reference computes and then discards (tuatara.cpp:183-200),
    are not run; ``geometry.square_override`` and
    ``geometry.canonicalize_corners`` keep their own tests.
    """
    tn = minmax_normalize(textmap)
    ln = minmax_normalize(linkmap)
    img_h, img_w = tn.shape

    # cv::threshold THRESH_BINARY uses strict > (tuatara.cpp:131-132)
    text_score = tn > np.float32(LOW_TEXT)
    link_score = ln > np.float32(LINK_THRESHOLD)
    # combine + clip (tuatara.cpp:136-137)
    comb = (text_score | link_score).astype(np.uint8)

    n_labels, labels, stats = g.connected_components_with_stats(comb)

    # per-component max of the normalized text map (tuatara.cpp:150-152),
    # vectorized in one pass instead of a mask per component
    comp_max = np.zeros(n_labels, dtype=np.float32)
    np.maximum.at(comp_max, labels.ravel(), tn.ravel())

    link_only = link_score & ~text_score  # (tuatara.cpp:160)

    det: list[np.ndarray] = []
    for k in range(1, n_labels):
        size = int(stats[k, 4])
        if size < 10:           # tuatara.cpp:146-148
            continue
        if comp_max[k] < np.float32(TEXT_THRESHOLD):  # tuatara.cpp:150-154
            continue
        x, y, w, h = (int(stats[k, 0]), int(stats[k, 1]),
                      int(stats[k, 2]), int(stats[k, 3]))
        niter = g.dilation_niter(size, w, h)  # quirk Q2
        sx, sy = max(0, x - niter), max(0, y - niter)
        ex, ey = min(img_w, x + w + niter + 1), min(img_h, y + h + niter + 1)
        # segmap restricted to the ROI — the component lies inside its bbox,
        # so this equals the reference's full-map segmap (tuatara.cpp:156-174)
        seg = np.where(labels[sy:ey, sx:ex] == k, np.uint8(255), np.uint8(0))
        seg[link_only[sy:ey, sx:ex]] = 0
        seg = g.dilate_binary(seg, 1 + niter)
        # minAreaRect depends only on the convex hull, and every hull vertex
        # is a row-wise min- or max-x foreground pixel — so passing just the
        # per-row extremes is exactly equivalent to the reference's
        # findNonZero of all pixels (tuatara.cpp:177-179), at ~1/20 the cost.
        any_row = seg.any(axis=1)
        ys = np.flatnonzero(any_row)
        if ys.size == 0:
            continue  # defensive; reference would feed cv::minAreaRect([])
        first = seg[ys].argmax(axis=1)
        last = seg.shape[1] - 1 - seg[ys, ::-1].argmax(axis=1)
        pts = np.concatenate([
            np.stack([first + sx, ys + sy], axis=1),
            np.stack([last + sx, ys + sy], axis=1),
        ])
        det.append(g.min_area_rect(pts))
    return det, labels
