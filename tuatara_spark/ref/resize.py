"""Image resize + tensor normalization (reference tuatara.cpp:206-234,
363-370, 437-448).

``resize_bilinear`` re-implements bilinear interpolation with half-pixel
centers (the standard cv::INTER_LINEAR sampling rule
``src = (dst + 0.5) * scale - 0.5``): float64 index math, float32 pixel
interpolation, rounding half-up to uint8.
OpenCV's 8-bit path uses 11-bit fixed-point coefficients, so individual
pixels can differ from the float computation by ±1 LSB; the C++ binary
cannot run in this environment, so the float rule is the pinned semantic and
the oracle and the Spark engine share this exact code path (SURVEY.md §0.2).

One-plane rule: an (H, W, C) image whose channel axis has stride 0 (a
``broadcast_to`` view: TPBIT pages and gray pages of every decoder) has
identical channels by construction, so ``resize_bilinear`` and
``resize_aspect_ratio`` interpolate and pad channel 0 only and return a
stride-0 broadcast of that plane — the same bytes as the three-channel
computation. The test is on strides alone (``one_plane``); pixels are
never compared. Results may therefore be READ-ONLY views: copy before
mutating.
"""

from __future__ import annotations

import numpy as np


def one_plane(img: np.ndarray) -> bool:
    """True when ``img`` is (H, W, C>1) with a stride-0 channel axis, i.e.
    every channel is the same plane by construction."""
    return img.ndim == 3 and img.shape[2] > 1 and img.strides[2] == 0


def _broadcast_plane(plane: np.ndarray, channels: int) -> np.ndarray:
    return np.broadcast_to(plane[..., None], plane.shape + (channels,))


def resize_bilinear(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resize of an (H, W) or (H, W, C) uint8 image to
    (out_h, out_w[, C]), cv::INTER_LINEAR sampling rule. A ``one_plane``
    image is resized on channel 0 and returned as a stride-0 broadcast."""
    img = np.asarray(img)
    if one_plane(img):
        return _broadcast_plane(resize_bilinear(img[..., 0], out_w, out_h),
                                img.shape[2])
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
    # gather each source row once, in the input dtype; cast to float32
    # only after the column gather (same float ops, same order)
    r0, r1 = img[y0], img[y1]
    f32 = np.float32
    top = r0[:, x0].astype(f32) * (1 - fx) + r0[:, x1].astype(f32) * fx
    bot = r1[:, x0].astype(f32) * (1 - fx) + r1[:, x1].astype(f32) * fx
    out = top * (1 - fy) + bot * fy
    if img.dtype == np.uint8:
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    return out.astype(img.dtype)


def _lin_weights(n_in: int, n_out: int) -> np.ndarray:
    """(n_in, n_out) float32 interpolation matrix for the half-pixel-center
    bilinear rule: each output column holds the two source weights
    (1-f, f); at the clamp edge (i0 == i1) they accumulate into one."""
    s = n_in / n_out
    src = np.clip((np.arange(n_out, dtype=np.float64) + 0.5) * s - 0.5,
                  0, n_in - 1)
    i0 = np.floor(src).astype(np.int64)
    i1 = np.minimum(i0 + 1, n_in - 1)
    f = (src - i0).astype(np.float32)
    w = np.zeros((n_in, n_out), dtype=np.float32)
    cols = np.arange(n_out)
    np.add.at(w, (i0, cols), np.float32(1.0) - f)
    np.add.at(w, (i1, cols), f)
    return w


def resize_bilinear_batch(imgs: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resize of a stacked batch (N, H, W[, C]) of SAME-size uint8
    images — same half-pixel-center sampling rule as resize_bilinear,
    evaluated SEPARABLY as two float32 GEMMs against 2-nonzero
    interpolation matrices (rows, then columns). ~20× less wall time than
    the gather formulation on the recognition-crop path (BLAS vs fancy-
    index memory traffic). GEMM accumulation adds exact zeros and may fuse
    multiply-adds, so individual pixels can differ by ±1 LSB from the
    single-image path — recognition is correlation-robust to this because
    template tiles are built through this SAME path (goldens + e2e
    byte-identity tests confirm)."""
    in_h, in_w = imgs.shape[1:3]
    if in_h == out_h and in_w == out_w:
        return imgs.copy()
    wy = _lin_weights(in_h, out_h)          # (H, out_h)
    wx = _lin_weights(in_w, out_w)          # (W, out_w)
    f = imgs.astype(np.float32)
    # rows: (N, H, W[, C]) → (N, out_h, W[, C])
    ry = np.moveaxis(np.tensordot(f, wy, axes=([1], [0])), -1, 1)
    # cols: → (N, out_h, out_w[, C])
    out = np.moveaxis(np.tensordot(ry, wx, axes=([2], [0])), -1, 2)
    if imgs.dtype == np.uint8:
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    return out.astype(imgs.dtype)


def resize_aspect_ratio(img: np.ndarray, square_size: int = 1024,
                        mag_ratio: float = 1.0):
    """Aspect-preserving resize with pad-to-32 (resize_aspect_ratio,
    tuatara.cpp:206-234).

    Longest side is scaled to ``mag_ratio * max(h, w)`` capped at
    ``square_size``; the result is zero-padded up to multiples of 32.
    Returns (resized, ratio, size_heatmap) where ratio is the applied scale
    (caller inverts it, tuatara.cpp:360-361) and size_heatmap =
    (target_w // 2, target_h // 2) — computed but unused by the caller
    (quirk Q6 territory; kept for stage parity). A ``one_plane`` page is
    resized and padded on channel 0; ``resized`` is then a stride-0
    broadcast (read-only).
    """
    if one_plane(img):
        resized, ratio, size_heatmap = resize_aspect_ratio(
            img[..., 0], square_size, mag_ratio)
        return _broadcast_plane(resized, img.shape[2]), ratio, size_heatmap
    height, width = img.shape[:2]
    # single-precision ratio math mirroring the reference's C++ `float`
    # (tuatara.cpp:212-216): float64 here could truncate int(h*ratio) one
    # pixel differently at exact-representability boundaries
    target_size = np.float32(mag_ratio) * np.float32(max(height, width))
    if target_size > np.float32(square_size):
        target_size = np.float32(square_size)
    ratio = np.float32(target_size) / np.float32(max(height, width))
    target_h = int(np.float32(height) * ratio)
    target_w = int(np.float32(width) * ratio)
    ratio = float(ratio)
    proc = resize_bilinear(img, target_w, target_h)
    target_h32 = target_h + (32 - target_h % 32) if target_h % 32 != 0 else target_h
    target_w32 = target_w + (32 - target_w % 32) if target_w % 32 != 0 else target_w
    resized = np.zeros((target_h32, target_w32) + img.shape[2:], dtype=img.dtype)
    resized[:target_h, :target_w] = proc
    size_heatmap = (target_w // 2, target_h // 2)
    return resized, ratio, size_heatmap


def swap_channels(img: np.ndarray) -> np.ndarray:
    """Pure BGR<->RGB channel reversal (cv::cvtColor COLOR_BGR2RGB on a
    3-channel image; tuatara.cpp:349 and per-crop at 441 — quirk Q3: with an
    RGB ndarray in (the Python-binding path we pin), the detector sees
    reversed channels and the recognizer sees RGB again)."""
    return img[..., ::-1]
