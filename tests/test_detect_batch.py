"""The batch detection geometry (``ref/detect.detect_boxes``) against the
per-component references in ``geometry_refs``, its independence from how
pages are batched, and the engine's per-page fallback when it throws."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import geometry_refs as ref
from tuatara_spark import engine as eng
from tuatara_spark import fixtures as fx
from tuatara_spark.ref import detect as dt
from tuatara_spark.ref import geometry as g
from tuatara_spark.ref import pipeline as pl


def _score_maps(rng, n, h, w):
    """Random text / link score maps: low noise, text blocks with and
    without a peak (some one row tall, some cut by the border, some
    overlapping), one-row link bridges that join blocks into one
    component; now and then a constant page."""
    text = rng.random((n, h, w), dtype=np.float32) * np.float32(0.3)
    link = rng.random((n, h, w), dtype=np.float32) * np.float32(0.3)
    for p in range(n):
        if rng.random() < 0.1:
            text[p] = link[p] = 0
            continue
        for _ in range(rng.integers(1, 8)):
            y, x = rng.integers(-2, h), rng.integers(-2, w)
            bh, bw = rng.integers(1, 6), rng.integers(1, 14)
            peak = rng.choice([0.95, 0.6])
            block = text[p, max(y, 0):y + bh, max(x, 0):x + bw]
            block[...] = peak + rng.random(block.shape) * np.float32(0.05)
        for _ in range(rng.integers(0, 4)):
            y, x = rng.integers(0, h), rng.integers(0, w)
            link[p, y, x:x + rng.integers(1, 10)] = np.float32(0.9)
    return text, link


def _assert_same(got, want):
    assert got.dtype == np.float32 and got.shape == (len(want), 4, 2)
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 10**9), st.integers(1, 3), st.integers(4, 36),
       st.integers(4, 36))
def test_batch_boxes_match_per_component_reference(seed, n, h, w):
    """Bit-identical corners, page for page, to the per-component loop
    (BFS CCL, 2-D ROI dilation, Andrew's hull, one-hull calipers)."""
    text, link = _score_maps(np.random.default_rng(seed), n, h, w)
    got = dt.detect_boxes(text, link)
    assert len(got) == n
    for p in range(n):
        want = ref.detected_boxes(text[p], link[p])
        _assert_same(got[p], want)
        det, labels = dt.get_detected_boxes(text[p], link[p])
        _assert_same(np.asarray(det, np.float32).reshape(-1, 4, 2), want)
        _, want_labels = ref.brute_ccl(
            (dt.minmax_normalize(text[p]) > np.float32(dt.LOW_TEXT))
            | (dt.minmax_normalize(link[p]) > np.float32(dt.LINK_THRESHOLD)))
        np.testing.assert_array_equal(labels, want_labels)


def test_batch_boxes_named_cases():
    """One page with each case the batch path must get right: a one-row
    component, components cut by each border, two blocks touching only
    diagonally (two components) and two joined by a link run (one), a
    rectangle (collinear hull points; its calipers tie on every edge) and
    a ragged blob (near-equal areas)."""
    text = np.zeros((1, 24, 40), np.float32)
    link = np.zeros_like(text)
    text[0, 2, 5:17] = 1.0                    # one row, 12 px
    text[0, 0:3, 30:40] = 0.9                 # top + right border
    text[0, 20:24, 0:6] = 0.9                 # bottom + left border
    text[0, 6:9, 3:7] = 0.9                   # diagonal neighbours:
    text[0, 9:12, 7:11] = 0.9                 # two components
    text[0, 14:17, 14:18] = 0.9               # joined by a link run
    text[0, 14:17, 22:26] = 0.9
    link[0, 15, 18:22] = 0.9
    text[0, 6:12, 20:32] = 0.9                # rectangle
    rng = np.random.default_rng(3)
    text[0, 18:23, 12:30] = np.where(rng.random((5, 18)) < 0.7, 0.9, 0.0)
    got = dt.detect_boxes(text, link)[0]
    want = ref.detected_boxes(text[0], link[0])
    _assert_same(got, want)
    assert len(got) >= 7
    # the hull of a rectangle keeps only its 4 corners
    hull, sizes = g.convex_hulls(np.array([[0, 0], [1, 0], [2, 0], [2, 1],
                                           [2, 2], [1, 2], [0, 2], [0, 1]]),
                                 np.array([8]))
    assert sizes.tolist() == [4]
    assert hull.tolist() == [[0, 0], [2, 0], [2, 2], [0, 2]]


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10**9), st.integers(1, 6))
def test_min_area_rects_match_one_hull_calipers(seed, n_sets):
    """Many point sets in one call (collinear ones, one- and two-point
    ones, duplicates) give the one-hull reference's corners bit for bit."""
    rng = np.random.default_rng(seed)
    counts = rng.integers(1, 30, n_sets)
    pts = rng.integers(0, rng.integers(2, 200), (counts.sum(), 2))
    if rng.random() < 0.3:
        pts[:, 1] = 2 * pts[:, 0] + 1
    got = g.min_area_rects(pts, counts)
    start = np.cumsum(counts) - counts
    _assert_same(got, [ref.min_area_rect(pts[s:s + c])
                       for s, c in zip(start, counts)])


def test_min_area_rects_near_ties_follow_one_hull_arithmetic():
    """Point sets whose two best edges differ in area by rounding alone.
    Where the BLAS fuses multiply-adds (OpenBLAS on AVX2/AVX-512), a plain
    elementwise dot product picks another edge or other corner bits on
    each of them, so only the one-hull calipers' own matmul reproduces
    the reference."""
    sets = [[[112, 64], [120, 115], [127, 46], [36, 53]],
            [[78, 61], [90, 100], [48, 85], [102, 55]],
            [[66, 93], [156, 121], [137, 119], [13, 101], [100, 93],
             [63, 0], [173, 133], [84, 173]]]
    got = g.min_area_rects(np.concatenate(sets),
                           np.array([len(s) for s in sets]))
    _assert_same(got, [ref.min_area_rect(np.array(s)) for s in sets])


def _boxes(det):
    return [np.asarray(b) for b in det[0]]


def test_boxes_independent_of_batching(weights):
    """A page's boxes are the same detected alone, in its 64-page group
    and in a batch of mixed shapes."""
    pages = fx.make_pages(64, seed=11, n_large=1)
    images, errors = fx.decode_payloads(list(pages["html"]))
    assert not any(errors)
    small = [im for im in images if im.shape[0] == 256]
    large = [im for im in images if im.shape[0] != 256]
    group = pl.detect_pages(small[:64], weights)
    odd = np.array(small[5][:192])                  # another shape, RGB
    mixed = pl.detect_pages([large[0], small[0], odd, small[5], small[63]],
                            weights)
    for k, m in ((0, 1), (5, 3), (63, 4)):
        alone = _boxes(pl.detect_page(small[k], weights))
        assert len(alone) > 0
        for other in (_boxes(group[k]), _boxes(mixed[m])):
            assert len(other) == len(alone)
            for a, b in zip(alone, other):
                np.testing.assert_array_equal(a, b)
    alone = _boxes(pl.detect_page(large[0], weights))
    assert len(alone) == len(_boxes(mixed[0])) > 0
    for a, b in zip(alone, _boxes(mixed[0])):
        np.testing.assert_array_equal(a, b)


def test_geometry_failure_isolates_its_page(weights, monkeypatch):
    """When the geometry throws for one page of a shape group, the batch
    falls back to per-page detection: that page gets a ``detect:`` error
    and every other page its oracle result."""
    pages = fx.make_pages(4, seed=5, n_large=0)
    images, errors = fx.decode_payloads(list(pages["html"]))
    images[1] = np.array(images[1])
    images[1][:16, :16] = 0         # ink where no rendered page has any
    label_runs, stacks = g.label_runs, []

    def failing(binary):
        stacks.append(len(binary))
        if binary[:, 0, 0].any():
            raise ValueError("poison geometry")
        return label_runs(binary)

    monkeypatch.setattr(g, "label_runs", failing)
    out = eng.ocr_batch(weights, images, errors)
    assert stacks[0] == 4           # one group first, then page by page
    assert out[1] is None and errors[1] == "detect: poison geometry"
    for i in (0, 2, 3):
        assert errors[i] is None
        want = pl.extract_page(images[i], weights)
        assert out[i]["text"] == want["text"] == pages["text"][i]
        assert [s["bbox"] for s in out[i]["spans"]] == \
            [s["bbox"].tolist() for s in want["spans"]]
