"""S30 debug visualization (viz.py) — deterministic overlay + dump,
golden-locked on a fixture page (reference parity: utils.cpp:6-47,
bindings/run_ocr.py:10-82)."""

import hashlib
import os

import numpy as np

from tuatara_spark import fixtures as fx, viz
from tuatara_spark.ref import pipeline as pl


def _page_and_spans(weights):
    img, _ = fx.render_page("Golden,Test", 256, 256, 4)
    spans = pl.image_to_data(img, weights)
    return img, spans


def test_draw_boxes_pixels():
    img = np.zeros((10, 12, 3), dtype=np.uint8)
    out = viz.draw_boxes(img, [(2, 3, 8, 7)], thickness=1)
    assert (out[3, 2:9] == (0, 255, 0)).all()       # top edge
    assert (out[7, 2:9] == (0, 255, 0)).all()       # bottom edge
    assert (out[3:8, 2] == (0, 255, 0)).all()       # left edge
    assert (out[3:8, 8] == (0, 255, 0)).all()       # right edge
    assert (out[5, 5] == 0).all()                   # interior untouched
    assert (img == 0).all()                         # input not mutated
    # clamping: off-image boxes must not throw
    viz.draw_boxes(img, [(-5, -5, 50, 50)])


def test_annotated_dump_golden(weights, tmp_path):
    img, spans = _page_and_spans(weights)
    assert spans, "fixture page must detect spans"
    annotated = viz.annotate_page(img, spans)
    # every span bbox leaves green pixels on the page
    assert (annotated == (0, 255, 0)).all(axis=2).sum() > 100
    ppm = viz.to_ppm(annotated)
    assert ppm.startswith(b"P6\n256 256\n255\n")
    # deterministic: golden-locked digest of the full annotated dump
    digest = hashlib.sha256(ppm).hexdigest()
    again = hashlib.sha256(
        viz.to_ppm(viz.annotate_page(img, spans))).hexdigest()
    assert digest == again
    path = viz.dump_annotated(img, spans, str(tmp_path / "page.ppm"))
    assert os.path.getsize(path) == len(ppm)
    with open(str(tmp_path / "page.txt")) as f:
        lines = f.read().splitlines()
    assert len(lines) == len(spans)
    assert lines[0].split("\t")[0] == spans[0]["text"]
