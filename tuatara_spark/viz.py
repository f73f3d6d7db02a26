"""S30 debug visualization: bbox overlays + annotated page dumps.

Mirrors the reference's debug tooling in sandbox-safe form: the reference
draws rotated-box polylines in green/thickness-2 on a canvas and shows it
(utils.cpp:6-47 ``draw_bounding_boxes_on_background``), and its Python
example draws axis-aligned span rectangles over the page plus a text panel
and writes the combination (bindings/run_ocr.py:10-82). No GUI or image
codec exists here, so output is PPM (P6 — trivially writable) or PNG;
drawing is deterministic NumPy so overlays can be golden-tested.
"""

from __future__ import annotations

import numpy as np

GREEN = (0, 255, 0)   # the reference's overlay color (run_ocr.py:33)


def draw_boxes(img: np.ndarray, bboxes, color=GREEN,
               thickness: int = 2) -> np.ndarray:
    """Axis-aligned rectangle outlines over a copy of ``img``.

    ``bboxes`` is an iterable of (x1, y1, x2, y2) in pixel coords (the
    spans' tesseract-style bboxes). Coordinates are rounded half-away like
    the pipeline's output formatting and clamped to the image; the
    ``thickness`` band extends inward so boxes at the edge stay visible.
    """
    out = np.ascontiguousarray(img).copy()
    h, w = out.shape[:2]
    col = np.asarray(color, dtype=np.uint8)
    for bbox in bboxes:
        x1, y1, x2, y2 = (int(np.floor(float(v) + 0.5)) for v in bbox)
        x1, x2 = max(0, min(x1, w - 1)), max(0, min(x2, w - 1))
        y1, y2 = max(0, min(y1, h - 1)), max(0, min(y2, h - 1))
        t = thickness
        out[y1:y1 + t, x1:x2 + 1] = col          # top
        out[max(y1, y2 - t + 1):y2 + 1, x1:x2 + 1] = col   # bottom
        out[y1:y2 + 1, x1:x1 + t] = col          # left
        out[y1:y2 + 1, max(x1, x2 - t + 1):x2 + 1] = col   # right
    return out


def annotate_page(img: np.ndarray, spans) -> np.ndarray:
    """Overlay every span's bbox on the page (spans as produced by the
    engine: dicts or Rows with a 4-float ``bbox``)."""
    boxes = []
    for s in spans:
        bbox = s["bbox"] if isinstance(s, dict) else s.bbox
        boxes.append(bbox)
    return draw_boxes(img, boxes)


def to_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6) encoding — viewable by any image tool, zero deps."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def dump_annotated(img: np.ndarray, spans, path: str) -> str:
    """Write the bbox-overlaid page (as real PNG when the path ends .png —
    via the pure-NumPy encoder in ref/png.py, like the reference's
    annotated dump run_ocr.py:82 — else PPM) next to a .txt of the span
    texts in reading order."""
    annotated = annotate_page(img, spans)
    if path.endswith(".png"):
        from tuatara_spark.ref.png import encode_png
        payload = encode_png(annotated)
    else:
        payload = to_ppm(annotated)
    with open(path, "wb") as f:
        f.write(payload)
    txt_path = path.rsplit(".", 1)[0] + ".txt"
    with open(txt_path, "w") as f:
        for s in spans:
            text = s["text"] if isinstance(s, dict) else s.text
            bbox = s["bbox"] if isinstance(s, dict) else s.bbox
            f.write(f"{text}\t{[round(float(v), 1) for v in bbox]}\n")
    return path

