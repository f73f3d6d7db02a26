"""One-plane OCR front end.

A page whose channel axis has stride 0 (TPBIT, and gray pages of every
real format) is resized, detected and cropped on a single plane. Each test
here pins that path against the three-channel computation: the old gather
formula of ``resize_bilinear``, kept verbatim below, or the same call on
the materialized copy ``np.array(page)``.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tuatara_spark import fixtures as fx
from tuatara_spark.ref import model as md
from tuatara_spark.ref import pipeline as pl
from tuatara_spark.ref import resize as rz


def _gather_resize(img, out_w, out_h):
    """``resize_bilinear`` as it was before the one-plane path: full-image
    float cast, then a full-width row block per row index."""
    img = np.asarray(img)
    in_h, in_w = img.shape[:2]
    if in_h == out_h and in_w == out_w:
        return img.copy()
    sy = in_h / out_h
    sx = in_w / out_w
    src_y = np.clip((np.arange(out_h, dtype=np.float64) + 0.5) * sy - 0.5, 0, in_h - 1)
    src_x = np.clip((np.arange(out_w, dtype=np.float64) + 0.5) * sx - 0.5, 0, in_w - 1)
    y0 = np.floor(src_y).astype(np.int64)
    x0 = np.floor(src_x).astype(np.int64)
    y1 = np.minimum(y0 + 1, in_h - 1)
    x1 = np.minimum(x0 + 1, in_w - 1)
    fy = (src_y - y0)[:, None].astype(np.float32)
    fx = (src_x - x0)[None, :].astype(np.float32)
    if img.ndim == 3:
        fy = fy[..., None]
        fx = fx[..., None]
    f = img.astype(np.float32)
    top = f[y0][:, x0] * (1 - fx) + f[y0][:, x1] * fx
    bot = f[y1][:, x0] * (1 - fx) + f[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    if img.dtype == np.uint8:
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    return out.astype(img.dtype)


def _layout(plane, rgb, kind):
    return {"2d": plane,
            "rgb": rgb,
            "broadcast": np.broadcast_to(plane[:, :, None], plane.shape + (3,)),
            "swapped": rgb[..., ::-1],
            "broadcast_swapped": np.broadcast_to(
                plane[:, :, None], plane.shape + (3,))[..., ::-1]}[kind]


@settings(max_examples=300, deadline=None)
@given(h=st.integers(1, 40), w=st.integers(1, 40),
       out_h=st.integers(1, 64), out_w=st.integers(1, 64),
       dtype=st.sampled_from(["uint8", "float32"]),
       kind=st.sampled_from(["2d", "rgb", "broadcast", "swapped",
                             "broadcast_swapped"]),
       seed=st.integers(0, 2 ** 32 - 1))
def test_resize_bilinear_matches_gather_formula(h, w, out_h, out_w, dtype,
                                                kind, seed):
    rng = np.random.default_rng(seed)
    if dtype == "uint8":
        plane = rng.integers(0, 256, (h, w), dtype=np.uint8)
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    else:
        plane = (rng.random((h, w)) * 255).astype(np.float32)
        rgb = (rng.random((h, w, 3)) * 255).astype(np.float32)
    img = _layout(plane, rgb, kind)
    got = rz.resize_bilinear(img, out_w, out_h)
    want = _gather_resize(img, out_w, out_h)
    assert got.shape == want.shape and got.dtype == want.dtype
    np.testing.assert_array_equal(got, want)
    if kind.startswith("broadcast"):
        assert got.strides[2] == 0


def _gray_pages():
    """Stride-0 TPBIT pages: two 256² pages and one 2048² page, so both the
    no-op and the downscaling aspect resize run."""
    pages = fx.make_pages(2, seed=11, n_large=1, payload="tpbit")
    images, errors = fx.decode_payloads(list(pages["html"]))
    assert errors == [None] * len(images)
    assert all(im.strides[2] == 0 for im in images)
    assert {im.shape for im in images} == {(256, 256, 3), (2048, 2048, 3)}
    return images


def test_resize_aspect_ratio_one_plane_equals_materialized():
    for page in _gray_pages():
        got, ratio, hm = rz.resize_aspect_ratio(page, pl.CANVAS_SIZE)
        want, ratio_m, hm_m = rz.resize_aspect_ratio(np.array(page),
                                                     pl.CANVAS_SIZE)
        assert got.strides[2] == 0
        assert (ratio, hm) == (ratio_m, hm_m)
        assert got.shape == want.shape and got.dtype == want.dtype
        np.testing.assert_array_equal(got, want)


def test_detection_maps_one_plane_equal_materialized(weights):
    for page in _gray_pages():
        proc = rz.resize_aspect_ratio(rz.swap_channels(page), pl.CANVAS_SIZE)[0]
        plane = proc[None, ..., 0]
        got = md.detect_forward_u8(
            weights, np.broadcast_to(plane[..., None], plane.shape + (3,)))
        want = md.detect_forward_u8(weights, np.array(proc)[None])
        np.testing.assert_array_equal(got, want)


def _ink_formula(imgs, ink_w):
    """``ink_map_u8`` as it was before the one-plane table: the channel
    mix of three uint8 planes, per pixel."""
    mixed = (imgs[..., 0] * ink_w[0] + imgs[..., 1] * ink_w[1]
             + imgs[..., 2] * ink_w[2])
    return (np.float32(1.0) - mixed / np.float32(255.0)).astype(np.float32)


def _mean_pool(ink):
    """The 2x2 pool as it was: reshape + mean(axis=(2, 4), dtype=float32)."""
    n, h, w = ink.shape
    return ink.reshape(n, h // 2, 2, w // 2, 2).mean(axis=(2, 4),
                                                     dtype=np.float32)


def _forward_formula(params, imgs, valid_hw=None):
    """``detect_forward_u8`` on the two formulas above."""
    ink = _ink_formula(imgs, params["ink_w"])
    if valid_hw is not None:
        ink[:, valid_hw[0]:, :] = 0
        ink[:, :, valid_hw[1]:] = 0
    half = _mean_pool(ink)
    return np.stack([md.conv2d_same(half, params["k_text"]),
                     md.conv2d_same(half, params["k_link"])], axis=-1)


def test_ink_table_matches_formula_at_every_byte(weights):
    levels = np.arange(256, dtype=np.uint8)
    plane = np.broadcast_to(levels[None, :], (2, 256))
    img = np.broadcast_to(plane[..., None], plane.shape + (3,))
    assert img.strides[-1] == 0
    got = md.ink_map_u8(img, weights["ink_w"])
    assert got.dtype == np.float32 and got.flags.writeable
    np.testing.assert_array_equal(got, _ink_formula(img, weights["ink_w"]))
    np.testing.assert_array_equal(got, _ink_formula(np.array(img),
                                                    weights["ink_w"]))


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2 ** 32 - 1), n=st.integers(1, 4),
       h=st.integers(1, 48), w=st.integers(1, 12),
       scale=st.sampled_from([1e-3, 1.0, 255.0, 1e4]))
def test_pool_matches_mean_on_random_maps(seed, n, h, w, scale):
    """Random float32 maps of every even height and every width the
    pad-to-32 canvas allows up to 384: the pool is the mean's bits."""
    rng = np.random.default_rng(seed)
    x = rng.random((n, 2 * h, 32 * w), dtype=np.float32) * np.float32(scale)
    got = md.avg_pool_2x2(x)
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got, _mean_pool(x))


def test_forward_matches_formulas_on_golden_pages(weights):
    """The golden pages (TPAGE, three planes) and their TPBIT encodings
    (one plane) give the old formulas' score maps bit for bit."""
    pages = fx.make_pages(24, seed=1234, n_large=1)
    for payload in (fx.encode_tpage, fx.encode_tpbit):
        images, errors = fx.decode_payloads(
            [payload(fx.decode_payload(h)) for h in pages["html"]])
        assert not any(errors)
        for shape in {im.shape for im in images}:
            group = [im for im in images if im.shape == shape]
            proc = [rz.resize_aspect_ratio(rz.swap_channels(im),
                                           pl.CANVAS_SIZE)
                    for im in group]
            stacked = np.stack([p[0] for p in proc])
            if rz.one_plane(group[0]):
                planes = stacked[..., 0]
                stacked = np.broadcast_to(planes[..., None],
                                          planes.shape + (3,))
            valid = tuple(int(d * proc[0][1]) for d in shape[:2])
            got = md.detect_forward_u8(weights, stacked, valid_hw=valid)
            want = _forward_formula(weights, np.array(stacked), valid)
            np.testing.assert_array_equal(got, want)


def _detect_and_ink(pages, params):
    det = pl.detect_pages(pages, params)
    crops = [c for boxes, swapped in det
             for c in pl.crop_regions(swapped, boxes)]
    return det, crops, pl.crops_to_ink(crops, params)


def test_detect_and_crops_one_plane_equal_materialized(weights):
    gray = _gray_pages()
    # an RGB page of a gray page's shape joins the batch: pages group by
    # (shape, one-plane), and results come back in input order
    rgb = np.array(gray[0])
    rgb[:8, :8, 0] = 17
    pages = [gray[0], rgb, gray[1], gray[2]]
    det, crops, ink = _detect_and_ink(pages, weights)
    det_m, crops_m, ink_m = _detect_and_ink([np.array(p) for p in pages],
                                            weights)
    assert len(det) == len(det_m)
    for (boxes, swapped), (boxes_m, swapped_m) in zip(det, det_m):
        assert len(boxes) == len(boxes_m) > 0
        for b, b_m in zip(boxes, boxes_m):
            np.testing.assert_array_equal(b, b_m)
        np.testing.assert_array_equal(swapped, swapped_m)
    assert sum(c.strides[2] == 0 for c in crops) > 0
    assert ink.dtype == ink_m.dtype == np.float32
    np.testing.assert_array_equal(ink, ink_m)


def test_crops_to_ink_mixed_shapes_and_layouts(weights):
    rng = np.random.default_rng(5)
    planes = [rng.integers(0, 256, (h, w), dtype=np.uint8)
              for h, w in ((20, 50), (20, 50), (7, 300), (40, 90))]
    crops = [np.broadcast_to(p[:, :, None], p.shape + (3,)) for p in planes]
    crops.insert(1, rng.integers(0, 256, (20, 50, 3), dtype=np.uint8))
    crops.append(np.full((1, 1, 3), 255, dtype=np.uint8))
    got = pl.crops_to_ink(crops, weights)
    want = pl.crops_to_ink([np.array(c) for c in crops], weights)
    np.testing.assert_array_equal(got, want)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2 ** 32 - 1),
       shapes=st.lists(st.tuples(st.integers(1, 40), st.integers(1, 160)),
                       min_size=1, max_size=6))
def test_one_plane_crops_ink_matches_formula(weights, seed, shapes):
    """Random one-plane crops (two of each shape, so groups stack) go
    through the ink table and give the three-plane formula's bits on the
    materialized, resized and swapped crops."""
    rng = np.random.default_rng(seed)
    planes = [rng.integers(0, 256, hw, dtype=np.uint8)
              for hw in shapes for _ in range(2)]
    crops = [np.broadcast_to(p[:, :, None], p.shape + (3,)) for p in planes]
    got = pl.crops_to_ink(crops, weights)
    resized = np.stack([_gather_resize(np.array(c), md.REC_W, md.REC_H)
                        [..., ::-1] for c in crops])
    np.testing.assert_array_equal(got, _ink_formula(resized,
                                                    weights["ink_w"]))


# ------------------------------------------------------- gray decoders ----

def _gray_plane(seed=3, h=37, w=53):
    return np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)


def _binary_plane(seed=4, h=37, w=53):
    return np.where(_gray_plane(seed, h, w) < 128, 0, 255).astype(np.uint8)


def _gray_round_trips():
    """name → (payload, expected (H, W) plane, decodes one-plane?)"""
    import png_fixtures as pf
    from tuatara_spark.ref import bmp, gif, jpeg, png, tiff
    g, b = _gray_plane(), _binary_plane()
    alpha = _gray_plane(seed=9)
    return {
        "png_gray8": (png.encode_png(g, color_type=0), g, True),
        "png_gray1": (png.encode_png(b, color_type=0, bit_depth=1), b, True),
        "png_gray_alpha": (pf.encode_png(np.dstack([g, alpha]), color_type=4),
                           g, True),
        "tiff_gray8": (tiff.encode_tiff(g), g, True),
        "tiff_bilevel": (tiff.encode_tiff(b, bilevel=True), b, True),
        "jpeg_gray": (jpeg.encode_jpeg(b, quality=100), b, True),
        # BMP and GIF encoders write a gray palette; their decoders read
        # one column of it
        "bmp_gray": (bmp.encode_bmp(b, bpp=8), b, True),
        "gif_gray": (gif.encode_gif(b), b, True),
    }


@pytest.mark.parametrize("name", ["png_gray8", "png_gray1", "png_gray_alpha",
                                  "tiff_gray8", "tiff_bilevel", "jpeg_gray",
                                  "bmp_gray", "gif_gray"])
def test_gray_decodes_are_one_plane(name):
    buf, plane, flat = _gray_round_trips()[name]
    img = fx.decode_payload(buf)
    assert img.shape == plane.shape + (3,) and img.dtype == np.uint8
    assert rz.one_plane(img) is flat
    if name == "jpeg_gray":      # lossy: a {0,255} plane stays within 2 LSB
        assert (img[..., 1] == img[..., 0]).all()
        assert np.abs(img[..., 0].astype(int) - plane).max() <= 2
    else:
        np.testing.assert_array_equal(img, np.broadcast_to(
            plane[:, :, None], img.shape))


# ----------------------------------------------------------- thumbnail ----

def test_thumbnail_one_plane_bytes(spark):
    """``thumbnail`` resizes a one-plane page without materializing it;
    raw and JPEG bytes equal the gather formula on the three-channel copy."""
    import pandas as pd

    from tuatara_spark.ops import multimodal as mm
    from tuatara_spark.ref import jpeg as J
    from tuatara_spark.ref.png import encode_png

    page = fx.render_page("ab", 96, 128, 2)[0]
    gray = page[..., 0]
    payloads = {"tpbit": fx.encode_tpbit(page),
                "png_gray": encode_png(gray, color_type=0)}
    df = spark.createDataFrame(pd.DataFrame(
        {"url": list(payloads), "html": list(payloads.values())}))
    want = _gather_resize(np.array(page), 24, 16)
    raw = {r.url: bytes(r.thumb) for r in mm.thumbnail(df, 24, 16).collect()}
    jpg = {r.url: bytes(r.thumb) for r in
           mm.thumbnail(df, 24, 16, out_format="jpeg").collect()}
    assert raw == dict.fromkeys(payloads, want.tobytes())
    assert jpg == dict.fromkeys(payloads, J.encode_jpeg(want, quality=85))
