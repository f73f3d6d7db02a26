"""The oracle pipeline — a faithful NumPy transcription of the reference's
``image_to_data`` (tuatara.cpp:314-512), pinned to the Python-binding entry
point (numpy RGB array in; bindings/python.cpp:43-52, quirk Q3).

Its stage functions are shared: ``extract_page`` chains them for one page
(the per-page oracle behind the goldens), and ``engine.ocr_batch`` — the
single batch kernel that the Spark Arrow UDF and the declared OCR queries
run — chains the same functions over a whole record batch. Per-image flow:

  swap channels (S2) → aspect resize + pad-to-32 (S3) → tensorize + ink
  conv + detection forward (S4/S5, fused from uint8) → detect_boxes
  (S6-S16) → rescale (S17) → crop (S18) → crop resize + swap + ink
  (S19/S2/S4) → recognition forward (S20-S23; region batching is the
  caller's concern) → softmax → greedy decode + EOS truncation (S24-S25) →
  bbox formatting (S26-S27) → reading-order assembly (S28,
  bindings/run_ocr.py:12).
"""

from __future__ import annotations

import numpy as np

from tuatara_spark import charset as cs
from tuatara_spark.ref import detect as dt
from tuatara_spark.ref import geometry as g
from tuatara_spark.ref import model as md
from tuatara_spark.ref import resize as rz

CANVAS_SIZE = 1024  # tuatara.cpp:352
MAG_RATIO = 1.0     # tuatara.cpp:353


def detect_pages(images: list[np.ndarray], params: dict):
    """Detection half of the pipeline for a batch of RGB pages; returns a
    list of (boxes, swapped_image) in input order.

    boxes: list of (4,2) float32 corners in source-image pixel space, in
    component-label order. swapped_image: the channel-swapped page the
    reference crops from (tuatara.cpp:349 mutates in place; 416 crops it).

    Pages are grouped by (shape, one-plane) and pushed through the
    detection forward pass as one stacked tensor per group, then through
    the box geometry (``dt.detect_boxes``) as one stack of score maps —
    strictly more vectorized than the reference's one-image-per-call
    loop, and bit-identical per page (neither step reduces across pages).
    A one-plane page (stride-0 channel axis, ``rz.one_plane``: TPBIT and
    gray decodes) is swapped, resized and stacked as one plane; the
    forward pass sees a stride-0 broadcast of the ``(N, H, W)`` stack, so
    ``ink_map_u8`` looks each byte up in its ink table and the ink math
    is unchanged. ``swapped_image`` is then a read-only view.
    """
    n = len(images)
    results: list = [None] * n
    groups: dict[tuple, list[int]] = {}
    for i, img in enumerate(images):
        groups.setdefault((img.shape, rz.one_plane(img)), []).append(i)
    for (shape, flat), idxs in groups.items():
        swapped = [rz.swap_channels(images[i]) for i in idxs]   # S2 (cpp:349)
        proc = [rz.resize_aspect_ratio(im, CANVAS_SIZE, MAG_RATIO)
                for im in swapped]
        ratio = proc[0][1]
        ratio_h = ratio_w = 1.0 / ratio                         # cpp:360-361
        # S4+S5 fused: the 1x1 ink conv commutes with the ÷255 normalize,
        # so detection runs from stacked uint8 (see model.ink_map_u8).
        # valid_hw masks the zero-pad canvas (black) from the ink map.
        h0, w0 = shape[:2]
        valid = (int(h0 * ratio), int(w0 * ratio))
        if flat:
            planes = np.stack([p[0][..., 0] for p in proc])
            stacked = np.broadcast_to(planes[..., None], planes.shape + shape[2:])
        else:
            stacked = np.stack([p[0] for p in proc])
        maps = md.detect_forward_u8(params, stacked, valid_hw=valid)
        dets = dt.detect_boxes(maps[..., 0], maps[..., 1])     # S6-S16
        for j, i in enumerate(idxs):
            boxes = g.adjust_result_coordinates(dets[j], ratio_w, ratio_h)  # S17
            results[i] = (boxes, swapped[j])
    return results


def detect_page(image_rgb: np.ndarray, params: dict):
    """Single-page detection (the reference's one-image-per-call shape,
    tuatara.cpp:389-390); thin wrapper over detect_pages."""
    return detect_pages([image_rgb], params)[0]


def crop_regions(swapped_image: np.ndarray, boxes) -> list[np.ndarray]:
    """S18 (tuatara.cpp:408-418): axis-aligned boundingRect crop of each
    rotated box from the full-res (channel-swapped) image. The reference
    does no bounds clamping (quirk Q4 — OpenCV would throw on out-of-image
    rects); fixtures keep boxes interior, and we clamp defensively."""
    h, w = swapped_image.shape[:2]
    crops = []
    for corners in boxes:
        x, y, bw, bh = g.bounding_rect(corners)
        x0, y0 = max(0, x), max(0, y)
        x1, y1 = min(w, x + bw), min(h, y + bh)
        if x1 <= x0 or y1 <= y0:
            crop = np.full((1, 1, 3), 255, dtype=np.uint8)
        else:
            crop = swapped_image[y0:y1, x0:x1]
        crops.append(crop)
    return crops


def crops_to_ink(crops: list[np.ndarray], params: dict) -> np.ndarray:
    """Fused S19+S2+S4+ink: resize crops (batched per source shape and
    one-plane flag — identical sampling math, vectorized), then the ink
    map per group. One-plane crops (views of a one-plane page) resize as
    a stacked ``(N, h, w)`` plane batch and reach ``ink_map_u8`` as its
    stride-0 broadcast, so each byte is looked up in the ink table; the
    S2 swap is a no-op on identical channels. The ink is per pixel, so
    the bits do not depend on the grouping. Returns (R, 32, 128) float32
    in input order."""
    ink = np.empty((len(crops), md.REC_H, md.REC_W), dtype=np.float32)
    groups: dict[tuple, list[int]] = {}
    for i, c in enumerate(crops):
        groups.setdefault((c.shape, rz.one_plane(c)), []).append(i)
    for (shape, flat), idxs in groups.items():
        if flat:
            planes = np.stack([crops[i][..., 0] for i in idxs])
            out = rz.resize_bilinear_batch(planes, md.REC_W, md.REC_H)
            rgb = np.broadcast_to(out[..., None], out.shape + (3,))
        else:
            stacked = np.stack([crops[i] for i in idxs])
            out = rz.resize_bilinear_batch(stacked, md.REC_W, md.REC_H)
            rgb = out[..., ::-1]  # S2 per-crop swap (cpp:441)
        ink[idxs] = md.ink_map_u8(rgb, params["ink_w"])
    return ink


def recognize_ink(params: dict, ink: np.ndarray) -> list[str]:
    """S21-S25: forward + softmax + greedy decode (incl. EOS truncation).
    Region batching: the reference chunks regions by 4 across 6 threads and
    re-sorts by index (tuatara.cpp:450-485); Spark task parallelism replaces
    the pool, and we forward all regions in one batch — order preserved."""
    logits = md.logits_from_features(params, md.features_from_ink(ink))
    probs = cs.softmax(logits)                             # cpp:486
    return cs.decode_probs(probs)                          # cpp:493-505


def image_to_data(image_rgb: np.ndarray, params: dict) -> list[dict]:
    """Full reference pipeline for one page: list of {'text', 'bbox'} in
    component-label order (bindings/python.cpp:36-52 output shape)."""
    boxes, swapped = detect_page(image_rgb, params)
    crops = crop_regions(swapped, boxes)
    texts = recognize_ink(params, crops_to_ink(crops, params))
    out = []
    for text, corners in zip(texts, boxes):
        out.append({"text": text,
                    "bbox": g.rect_to_tesseract_bbox(corners)})  # S26 (cpp:256-274)
    return out


# ---------------------------------------------------------------------------
# Reading-order assembly (S28)
# ---------------------------------------------------------------------------

def reference_plain_sort(spans: list[dict]) -> list[dict]:
    """The reference example's naive global sort by (y1, x1)
    (bindings/run_ocr.py:12). Kept as an exposed operator; note it can
    interleave lines whose boxes have slightly different tops."""
    return sorted(spans, key=lambda s: (s["bbox"][1], s["bbox"][0]))


def assemble_reading_order(spans: list[dict]) -> str:
    """Reading-order text assembly: cluster spans into lines, then join.

    Rule (frozen for goldens; oracle and Spark share this code):
      1. sort spans by (y1, x1, y2, x2, text) — deterministic total order;
      2. a span starts a new line when its y1 exceeds the current line's
         anchor y1 by more than half the anchor's height;
      3. within a line, spans are ordered by (x1, y1);
      4. line texts are concatenated without separator; lines whose
         concatenated text is empty are dropped; remaining lines join
         with '\\n'.

    This is the "bounding-box clustering into reading-order lines" stage;
    the reference's own example uses the plain (y1, x1) sort
    (reference_plain_sort), which is exposed separately.
    """
    if not spans:
        return ""
    items = sorted(
        ((float(s["bbox"][1]), float(s["bbox"][0]), float(s["bbox"][3]),
          float(s["bbox"][2]), s["text"]) for s in spans))
    lines: list[list[tuple]] = []
    anchor_y1 = anchor_h = None
    for it in items:
        y1, x1, y2, x2, text = it
        if anchor_y1 is None or y1 > anchor_y1 + 0.5 * anchor_h:
            lines.append([])
            anchor_y1, anchor_h = y1, max(y2 - y1, 1.0)
        lines[-1].append(it)
    parts = []
    for line in lines:
        line.sort(key=lambda it: (it[1], it[0]))
        t = "".join(it[4] for it in line)
        if t:
            parts.append(t)
    return "\n".join(parts)


def extract_page(image_rgb: np.ndarray, params: dict) -> dict:
    """One page → {'spans': [{'text','bbox'}...] (label order),
    'text': reading-order string}."""
    spans = image_to_data(image_rgb, params)
    return {"spans": spans, "text": assemble_reading_order(spans)}
