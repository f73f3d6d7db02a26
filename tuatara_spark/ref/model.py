"""Deterministic stand-in models for the reference's two TorchScript nets.

The reference loads CRAFT (text-region detection; tuatara.cpp:333-340) and
PARSEQ (recognition; tuatara.cpp:421-432) weights from disk. Those weights
are not redistributable/available offline, so this module provides
*constructed deterministic* models with the same interface contracts:

Both nets start with the same 1x1 channel-mix ("ink") conv, and it
commutes with the reference's ÷255 normalize (tuatara.cpp:363-370,
443-446), so both run straight from uint8 HWC pixels (``ink_map_u8``) and
never build the NCHW float tensor:

* detection (``detect_forward_u8``): (N, H, W, 3) uint8 pages →
  (N, H/2, W/2, 2) score maps, channel 0 = text score, channel 1 = link
  score (tuatara.cpp:393-394). After the ink conv: a 2x2 average-pool
  downsample and two smoothing conv kernels (5x5 binomial for text, 3x7
  horizontal for link).
* recognition (``features_from_ink`` → ``logits_from_features``): the
  (R, 32, 128) ink of the resized crops (``pipeline.crops_to_ink``) →
  (R, L=26, C=98) logits. CRNN-shaped: a full-receptive-field conv layer
  whose 95 filters are glyph templates (built by tuatara_spark.weights
  through the real detection+crop path), correlated against the input and
  emitted as position-0 class logits; positions 1..L-1 emit EOS. Softmax +
  greedy decode downstream are exactly the reference's (tuatara.cpp:486,
  61-78).

Everything is float32 after the ink conv, fully vectorized over the batch,
and identical between the single-process oracle and the Spark Arrow UDF
(shared code).
"""

from __future__ import annotations

import numpy as np

from tuatara_spark import charset as cs

SEQ_LEN = 26          # PARSEQ max_label_length 25 + terminator slot
REC_H, REC_W = 32, 128  # recognizer crop geometry (tuatara.cpp:440)


def build_det_params() -> dict:
    """Deterministic detection-model parameters (no learned weights)."""
    b5 = np.array([1, 4, 6, 4, 1], dtype=np.float32)
    k_text = np.outer(b5, b5) / np.float32(256.0)           # 5x5 binomial, sum 1
    k_link_r = np.array([1, 2, 1], dtype=np.float32) / np.float32(4.0)
    k_link_c = np.ones(7, dtype=np.float32) / np.float32(7.0)
    k_link = np.outer(k_link_r, k_link_c)                   # 3x7 horizontal
    ink_w = np.full(3, 1.0 / 3.0, dtype=np.float32)         # channel mix
    return {"ink_w": ink_w, "k_text": k_text, "k_link": k_link}


def conv2d_same(x: np.ndarray, k: np.ndarray) -> np.ndarray:
    """'same' zero-padded 2D convolution of (N, H, W) float32 maps with a
    small (kh, kw) kernel, via vectorized shift-accumulate (kernels here are
    ≤ 7 taps per axis, so this beats FFT and keeps float32 determinism:
    fixed accumulation order, no BLAS shape-dependence)."""
    n, h, w = x.shape
    kh, kw = k.shape
    ph, pw = kh // 2, kw // 2
    padded = np.zeros((n, h + 2 * ph, w + 2 * pw), dtype=np.float32)
    padded[:, ph:ph + h, pw:pw + w] = x
    out = np.zeros((n, h, w), dtype=np.float32)
    for i in range(kh):
        for j in range(kw):
            kv = k[i, j]
            if kv != 0:
                out += kv * padded[:, i:i + h, j:j + w]
    return out


def avg_pool_2x2(x: np.ndarray) -> np.ndarray:
    """2x2 average-pool downsample of (N, H, W) float32 maps to heatmap
    resolution: each block summed in the order NumPy's reshape +
    ``mean(axis=(2, 4), dtype=float32)`` adds it on maps whose width is a
    multiple of 32 (every padded canvas; tests/test_one_plane.py pins the
    bits), without that strided reduction."""
    return (((x[:, 0::2, 0::2] + x[:, 0::2, 1::2])
             + (x[:, 1::2, 0::2] + x[:, 1::2, 1::2])) / np.float32(4))


def _ink(imgs: np.ndarray, ink_w: np.ndarray) -> np.ndarray:
    mixed = (imgs[..., 0] * ink_w[0] + imgs[..., 1] * ink_w[1]
             + imgs[..., 2] * ink_w[2])
    return (np.float32(1.0) - mixed / np.float32(255.0)).astype(np.float32)


def ink_map_u8(imgs: np.ndarray, ink_w: np.ndarray) -> np.ndarray:
    """Fused S4 + 1x1 ink conv, the first layer of both nets:
    (N, H, W, 3) uint8 → (N, H, W) float32 ink = 1 − channel mix / 255.
    The channel mix commutes with the reference's ÷255 normalize, so the
    NCHW float tensor is never built. Symmetric channel weights make the
    ink invariant to the reference's BGR/RGB swaps (quirk Q3) while the
    swap stages themselves stay in the pipeline.

    One-plane input (channel stride 0: every channel is the same byte)
    looks each pixel up in a 256-entry table that the same expression
    builds from every byte value — the same float32 operations per value,
    so the same bits, without the three-plane arithmetic per pixel."""
    if imgs.strides[-1] == 0:
        levels = np.arange(256, dtype=np.uint8)
        return _ink(np.broadcast_to(levels[:, None], (256, 3)),
                    ink_w)[imgs[..., 0]]
    return _ink(imgs, ink_w)


def detect_forward_u8(params: dict, imgs: np.ndarray,
                      valid_hw: tuple[int, int] | None = None) -> np.ndarray:
    """Detection forward pass: (N, H, W, 3) uint8 pages → (N, H/2, W/2, 2);
    H, W must be even (guaranteed by pad-to-32, tuatara.cpp:225-229).

    ``valid_hw``: extent of real image content. The reference zero-pads up
    to multiples of 32 (tuatara.cpp:225-229) — black canvas a trained CRAFT
    does not respond to, but a darkness-based stand-in would; zeroing the
    ink outside the valid region reproduces the trained model's indifference
    to its own canvas padding. No-op when the page needed no padding."""
    ink = ink_map_u8(imgs, params["ink_w"])
    if valid_hw is not None:
        vh, vw = valid_hw
        if vh < ink.shape[1]:
            ink[:, vh:, :] = 0
        if vw < ink.shape[2]:
            ink[:, :, vw:] = 0
    half = avg_pool_2x2(ink)
    text = conv2d_same(half, params["k_text"])
    link = conv2d_same(half, params["k_link"])
    return np.stack([text, link], axis=-1)


def features_from_ink(ink: np.ndarray) -> np.ndarray:
    """(R, 32, 128) float32 ink maps → (R, 32*128) zero-mean L2-normalized
    feature vectors. The ONE feature path shared by recognition inference
    and template construction (tuatara_spark.weights), so a crop that is
    pixel-identical to its template source correlates at exactly 1.0."""
    r = ink.shape[0]
    if r == 0:
        return np.zeros((0, REC_H * REC_W), dtype=np.float32)
    f = ink.reshape(r, -1)
    f = f - f.mean(axis=1, keepdims=True, dtype=np.float32)
    norms = np.sqrt((f * f).sum(axis=1, keepdims=True, dtype=np.float32))
    return (f / (norms + np.float32(1e-6))).astype(np.float32)


def logits_from_features(params: dict, f: np.ndarray) -> np.ndarray:
    """Recognition head: (R, 32*128) features → (R, 26, 98) logits.
    ``params`` carries 'templates' (95, 32*128) L2-normalized zero-mean
    template filters (charset order — class id = 1 + charset index,
    matching the tokenizer's first-occurrence mapping), 'gain', and
    'eos_bias'."""
    r = f.shape[0]
    gain = np.float32(params["gain"])
    logits = np.full((r, SEQ_LEN, cs.NUM_CLASSES), -gain, dtype=np.float32)
    logits[:, 1:, 0] = gain                    # positions ≥1: EOS wins
    if r == 0:
        return logits
    corr = f @ params["templates"].T           # (R, 95) cosine similarities
    logits[:, 0, 1:96] = gain * corr.astype(np.float32)
    # EOS logit: a fixed floor plus a reject prototype (the calibration
    # mark's own feature) so non-text regions decode to "" — analogous to a
    # background class.
    eos_corr = f @ params["eos_template"]      # (R,)
    logits[:, 0, 0] = gain * np.maximum(np.float32(params["eos_bias"]),
                                        eos_corr.astype(np.float32))
    return logits
