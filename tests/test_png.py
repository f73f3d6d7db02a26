"""Pure-NumPy PNG decoder (ref/png.py) against scan-shaped PNG fixtures —
the S1 ingest of the reference's primary entry format (examples/resume.cpp:9
cv::imread of images/*.png). The fixtures under fixtures/png/ are written by
the stdlib encoder in tests/png_fixtures.py (1-bit gray, 8-bit gray, RGB,
every filter type, split IDAT, one Adam7 image)."""

import os

import numpy as np
import pytest

import png_fixtures as pf
from tuatara_spark import fixtures as fx
from tuatara_spark.ops import multimodal as mm
from tuatara_spark.ref.png import decode_png

EXPECTED_DIMS = {
    "scan_gray1.png": (400, 304),
    "scan_gray8.png": (480, 352),
    "scan_rgb.png": (352, 480),
    "scan_rgb_adam7.png": (208, 272),
}


def _read(name: str) -> bytes:
    with open(os.path.join(pf.FIXTURE_DIR, name), "rb") as f:
        return f.read()


@pytest.mark.parametrize("color_type", [0, 2, 6])
def test_roundtrip_all_filters(color_type):
    rng = np.random.default_rng(color_type)
    c = {0: 1, 2: 3, 6: 4}[color_type]
    src = rng.integers(0, 256, size=(40, 23, c), dtype=np.uint8)
    out = decode_png(pf.encode_png(src, color_type))
    if color_type == 0:
        np.testing.assert_array_equal(out, np.repeat(src, 3, axis=2))
    elif color_type == 2:
        np.testing.assert_array_equal(out, src)
    else:
        np.testing.assert_array_equal(out, src[..., :3])


@pytest.mark.parametrize("name", sorted(EXPECTED_DIMS))
def test_scan_fixture_decodes(name):
    img = decode_png(_read(name))
    h, w = EXPECTED_DIMS[name]
    assert img.shape == (h, w, 3)
    assert img.dtype == np.uint8
    # document scans are paper-dominated: bright mean, full dynamic range
    assert img.mean(dtype=np.float64) > 180
    assert img.min() < 64 and img.max() > 220
    # and the pixels are exactly the ones the fixture was encoded from
    src = pf.scan_pages()[name][0]
    np.testing.assert_array_equal(img, np.broadcast_to(src, img.shape))
    # gray decodes are a stride-0 channel broadcast (one-plane OCR path)
    assert (img.strides[2] == 0) == name.startswith("scan_gray")


def test_decode_payload_dispatches_png():
    img = fx.decode_payload(_read("scan_rgb_adam7.png"))
    assert img.shape == (208, 272, 3)


def test_extract_media_meta_real_png(spark):
    """S1 ingest over the scan fixtures through the Spark op: real
    width/height/luma, no stub."""
    rows = [(name, bytearray(_read(name))) for name in sorted(EXPECTED_DIMS)]
    df = spark.createDataFrame(rows, "url string, html binary")
    meta = {r.url: r for r in mm.extract_media_meta(df).collect()}
    for name, (h, w) in EXPECTED_DIMS.items():
        r = meta[name]
        assert r.format == "png"
        assert (r.height, r.width) == (h, w)
        assert r.mean_luma is not None and r.mean_luma > 180


def test_extract_df_ingests_real_png(spark, weights):
    """The full Spark extraction engine accepts an interlaced RGB scan
    end-to-end (S1 ingest → detection → recognition): real decode, real
    detection on blurred, noisy ink. Extracted TEXT is not asserted —
    regions and error-free flow are."""
    from tuatara_spark import engine as eng
    df = spark.createDataFrame(
        [("scan_rgb_adam7.png", bytearray(_read("scan_rgb_adam7.png")))],
        "url string, html binary")
    r = eng.extract_df(df, weights=weights).collect()[0]
    assert r.error is None
    assert r.n_regions >= 1          # detector fires on the scan's ink


def test_encode_png_roundtrip_and_viz_dump(weights, tmp_path):
    """encode_png output must decode back exactly, and the S30 annotated
    dump writes a real PNG when asked to."""
    from tuatara_spark import viz
    from tuatara_spark.ref import pipeline as pl
    from tuatara_spark.ref.png import encode_png
    rng = np.random.default_rng(9)
    src = rng.integers(0, 256, size=(31, 17, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(src)), src)
    img, _ = fx.render_page("PngDump", 256, 256, 4)
    spans = pl.image_to_data(img, weights)
    path = viz.dump_annotated(img, spans, str(tmp_path / "page.png"))
    with open(path, "rb") as f:
        out = decode_png(f.read())
    np.testing.assert_array_equal(out, viz.annotate_page(img, spans))


def test_all_depths_palette_and_adam7_round_trip():
    """Full spec matrix: gray at 1/2/4/8/16 bit, RGB 8/16, palette at
    1/2/4/8 bit — each plain AND Adam7-interlaced — round-trips exactly
    (1-bit gray is the scanned-document format the OCR pipeline cares
    about; 16-bit reduces to the high byte by construction v·257)."""
    import numpy as np
    from tuatara_spark.ref import png as P
    rng = np.random.default_rng(5)
    for il in (False, True):
        for d in (1, 2, 4, 8, 16):
            if d < 8:
                step = 255 // ((1 << d) - 1)
                g = (rng.integers(0, 1 << d, (37, 53)) * step) \
                    .astype(np.uint8)
            else:
                g = rng.integers(0, 256, (37, 53), dtype=np.uint8)
            out = P.decode_png(P.encode_png(g, bit_depth=d, color_type=0,
                                            interlace=il))
            assert (out[..., 0] == g).all() and (out[..., 2] == g).all()
        for d in (8, 16):
            img = rng.integers(0, 256, (23, 41, 3), dtype=np.uint8)
            out = P.decode_png(P.encode_png(img, bit_depth=d,
                                            color_type=2, interlace=il))
            assert (out == img).all()
        for d in (1, 2, 4, 8):
            colors = rng.integers(0, 256, (1 << d, 3), dtype=np.uint8)
            img = colors[rng.integers(0, 1 << d, (19, 29))]
            out = P.decode_png(P.encode_png(img, bit_depth=d,
                                            color_type=3, interlace=il))
            assert (out == img).all()
    # Adam7 with empty passes (images smaller than the pass grid)
    for h, w in ((1, 1), (2, 3), (7, 5), (8, 8)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (P.decode_png(P.encode_png(img, interlace=True))
                == img).all()


def test_binary_page_as_1bit_png_extracts(weights):
    """A rendered binary page shipped as a 1-bit interlaced PNG (the
    scanned-doc wire format) must extract byte-identically."""
    import numpy as np
    from tuatara_spark.ref import png as P, pipeline as pl
    img, lines = fx.render_page("Scan", 256, 256, 4)
    buf = P.encode_png(img[..., 0], bit_depth=1, color_type=0,
                       interlace=True)
    out = P.decode_png(buf)
    assert (out == img).all()
    r = pl.extract_page(out, weights)
    assert r["text"] == "\n".join(lines)
