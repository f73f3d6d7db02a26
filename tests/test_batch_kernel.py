"""The two shared batch steps checked in plain Python, with no Spark session:
``fixtures.decode_payloads`` against per-row ``fixtures.decode_payload``,
and ``engine.ocr_batch`` against the per-page oracle ``pipeline.extract_page``.
"""

import numpy as np
import pyarrow as pa

from tuatara_spark import engine as eng
from tuatara_spark import fixtures as fx
from tuatara_spark.ref import pipeline as pl
from tuatara_spark.ref.png import encode_png


def _page(text, h, w):
    return fx.render_page(text, h, w, 2)[0]


def test_decode_payloads_matches_per_row_decode():
    a, b = _page("Ab", 64, 96), _page("xyZ", 128, 128)
    c, d = _page("Q", 64, 96), _page("k9", 64, 128)
    truncated = fx.encode_tpbit(b)[:100]
    bufs = [fx.encode_tpbit(a),          # TPBIT shape 1, stacked
            fx.encode_tpbit(b),          # TPBIT shape 2
            fx.encode_tpbit(c),          # TPBIT shape 1 again
            truncated,                   # header promises more bits
            fx.encode_tpage(d),
            encode_png(b),
            b"NOPE" + b"\0" * 16,        # unknown magic
            None]
    bad = {3: "decode: ", 6: "decode: unknown page payload magic",
           7: "decode: null payload"}
    # the engine hands over zero-copy Arrow buffer views; pass those
    arr = pa.array(bufs, type=pa.binary())
    images, errors = fx.decode_payloads([sc.as_buffer() for sc in arr])
    assert len(images) == len(errors) == len(bufs)
    for i, buf in enumerate(bufs):
        if i in bad:
            assert images[i] is None
            assert errors[i].startswith(bad[i]), errors[i]
            continue
        assert errors[i] is None
        want = fx.decode_payload(buf)
        assert images[i].shape == want.shape and images[i].dtype == np.uint8
        np.testing.assert_array_equal(images[i], want)
    np.testing.assert_array_equal(images[0], a)
    np.testing.assert_array_equal(images[5], b)


def _spans(page):
    return [(s["text"], [float(v) for v in s["bbox"]]) for s in page["spans"]]


def test_ocr_batch_matches_per_page_oracle(weights):
    pages = fx.make_pages(5, seed=7, n_large=1)    # 5 × 256², 1 × 2048²
    images, errors = fx.decode_payloads(list(pages["html"]))
    # one preset error row and one page detection cannot handle
    images.insert(2, None)
    errors.insert(2, "decode: null payload")
    images.insert(4, np.zeros((0, 7, 3), np.uint8))
    errors.insert(4, None)
    out = eng.ocr_batch(weights, images, errors)
    assert len(out) == len(images)
    assert out[2] is None and errors[2] == "decode: null payload"
    assert out[4] is None and errors[4].startswith("detect: ")
    checked = 0
    for i, img in enumerate(images):
        if i in (2, 4):
            continue
        assert errors[i] is None
        want = pl.extract_page(img, weights)
        assert out[i]["text"] == want["text"]
        assert _spans(out[i]) == _spans(want)
        checked += 1
    assert checked == 6
    # and the oracle itself reads the rendered ground truth
    assert [out[i]["text"] for i in (0, 1, 3, 5, 6, 7)] == list(pages["text"])
