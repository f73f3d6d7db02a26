"""Detection post-processing: score maps → rotated boxes (reference
``get_detected_boxes``, tuatara.cpp:119-204).

Stage-for-stage transcription (S6-S16 in SURVEY.md §2) over NumPy:
normalize → threshold → combine → CCL → area/peak filters → segmap with
link-pixel removal → size-adaptive ROI dilation → minAreaRect.

``detect_boxes`` runs every stage over a whole stack of pages in array
operations — no Python loop over pages, components, runs or hull
points; ``get_detected_boxes`` is the reference's one-page call on top.
"""

from __future__ import annotations

import numpy as np

from tuatara_spark.ref import geometry as g

TEXT_THRESHOLD = 0.7   # tuatara.cpp:397
LINK_THRESHOLD = 0.4   # tuatara.cpp:398
LOW_TEXT = 0.4         # tuatara.cpp:399


def minmax_normalize(m: np.ndarray) -> np.ndarray:
    """(x - min) / (max - min) over each map's last two axes
    (tuatara.cpp:120-121). On a constant map the reference divides 0/0 →
    NaN → every threshold comparison is false → no detections; we divide
    its zeros by 1 instead, which is observably identical (and
    warning-free)."""
    m = np.array(m, dtype=np.float32)
    mn = m.min(axis=(-2, -1), keepdims=True)
    span = m.max(axis=(-2, -1), keepdims=True) - mn
    m -= mn
    m /= np.where(span > 0, span, np.float32(1))
    return m


def _detect(textmaps: np.ndarray, linkmaps: np.ndarray):
    """(N, H, W) score maps → (per-page (k, 4, 2) float32 corner arrays in
    component-label order, the CCL runs)."""
    tn = minmax_normalize(textmaps)
    ln = minmax_normalize(linkmaps)
    n_pages, img_h, img_w = tn.shape

    # cv::threshold THRESH_BINARY uses strict > (tuatara.cpp:131-132)
    text_score = tn > np.float32(LOW_TEXT)
    link_score = ln > np.float32(LINK_THRESHOLD)
    # combine + clip (tuatara.cpp:136-137), then CCL (139-142)
    runs = g.label_runs(text_score | link_score)
    left, top, right, bottom, area = g.component_stats(runs)

    # size filter (tuatara.cpp:146-148) and peak filter (150-154): a
    # component's max normalized text score reaches TEXT_THRESHOLD iff one
    # of its pixels does
    peak = np.zeros(runs.n_comp, dtype=bool)
    hot = np.flatnonzero(tn.ravel() >= np.float32(TEXT_THRESHOLD))
    peak[g.comp_at(runs, img_w, hot // img_w, hot % img_w)] = True
    kept = np.flatnonzero(peak & (area >= 10))
    keep_id = np.full(runs.n_comp, -1)
    keep_id[kept] = np.arange(kept.size)

    # segmap with link-only pixels removed (tuatara.cpp:156-160): component
    # pixels minus (link & ~text) are exactly its text-score pixels, so a
    # component's segmap row extremes are those of its text runs
    t_row, t_start, t_end = g.find_runs(text_score.reshape(-1, img_w))
    t_set = keep_id[g.comp_at(runs, img_w, t_row, t_start)]
    mine = t_set >= 0
    t_set, t_row, t_start, t_end = (t_set[mine], t_row[mine], t_start[mine],
                                    t_end[mine])
    order = np.argsort(t_set, kind="stable")   # by component, then row
    t_set, t_row, t_start, t_end = (t_set[order], t_row[order],
                                    t_start[order], t_end[order])
    head = np.ones(t_set.size, dtype=bool)
    head[1:] = (t_set[1:] != t_set[:-1]) | (t_row[1:] != t_row[:-1])
    tail = np.ones(t_set.size, dtype=bool)
    tail[:-1] = head[1:]
    first, last = np.flatnonzero(head), np.flatnonzero(tail)
    sets, rows = t_set[first], t_row[first]

    # size-adaptive ROI dilation (tuatara.cpp:162-174; quirk Q2), in stack
    # rows, clipped to the component's page
    x, y = left[kept], top[kept]
    w, h = right[kept] - x + 1, bottom[kept] - y + 1
    niter = g.dilation_niter(area[kept], w, h)
    page_top = y // img_h * img_h
    roi = (np.maximum(0, x - niter), np.maximum(page_top, y - niter),
           np.minimum(img_w, x + w + niter + 1),
           np.minimum(page_top + img_h, y + h + niter + 1))
    sets, rows, lo, hi = g.dilate_row_extremes(
        sets, rows, t_start[first], t_end[last] - 1, 1 + niter, roi)

    # minAreaRect depends only on the convex hull, and every hull vertex is
    # a row-wise min- or max-x foreground pixel — so passing just the
    # per-row extremes is exactly equivalent to the reference's findNonZero
    # of all pixels (tuatara.cpp:177-179)
    rows = rows - page_top[sets]
    pts = np.stack([np.stack([lo, rows], 1), np.stack([hi, rows], 1)], 1)
    rects = g.min_area_rects(pts.reshape(-1, 2),
                             2 * np.bincount(sets, minlength=kept.size))
    per_page = np.bincount(page_top // img_h, minlength=n_pages)
    return np.split(rects, np.cumsum(per_page)[:-1]), runs


def detect_boxes(textmaps: np.ndarray, linkmaps: np.ndarray) -> list:
    """Boxes of every page of an (N, H, W) stack of text / link score maps:
    one (k, 4, 2) float32 corner array per page, in component-label order
    (quirk Q5). Each page's boxes are the ones it gets detected alone —
    nothing in the geometry reduces across pages."""
    return _detect(textmaps, linkmaps)[0]


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
    shape = (1,) + np.shape(textmap)
    det, runs = _detect(np.reshape(textmap, shape), np.reshape(linkmap, shape))
    return list(det[0]), g.paint_labels(runs, shape)[0]
