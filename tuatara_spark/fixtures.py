"""Deterministic fixture synthesis: TPAGE-encoded web-page rasters.

Plays the role of the reference's ``images/*.png`` fixtures (not decodable
here — no image codec in the sandbox). All geometry is defined in glyph-bit
units scaled by ``s`` px/bit, so a page rendered at s=8 downscales
bit-exactly to its s=4 twin under the pipeline's half-pixel-center bilinear
resize (used by the 2048px skew pages, which hit the canvas_size=1024 cap,
tuatara.cpp:352).

Every page carries a calibration mark (solid CAL_BITS block) at a fixed
margin position: its text/link detection response equals the full kernel
sum — the provable maximum of a normalized kernel over [0,1] ink — so the
global min-max normalization of the score maps (tuatara.cpp:120-121) is the
same float32 constant on every page. See tuatara_spark.font docstring.

``html`` payload format (TPAGE v1, FIXTURES.md §1):
  b"TPG1" + uint16_le height + uint16_le width + raw RGB uint8 (H*W*3).
"""

from __future__ import annotations

import importlib

import numpy as np
import pandas as pd

from tuatara_spark import charset as cs
from tuatara_spark import font as ft

# --- layout, in glyph-bit units (px = bits * s) ---
CAL_BITS_H, CAL_BITS_W = 3, 4   # calibration mark block
CAL_OFF_BITS = 1                # mark origin (px = s, s)
MARGIN_BITS = 11                # text origin margin
ADV_X_BITS = 11                 # glyph advance (5-bit glyph + 6-bit gap)
ADV_Y_BITS = 13                 # line advance (7-bit glyph + 6-bit gap)

INK = np.uint8(0)
PAPER = np.uint8(255)

# Fixture ground-truth text avoids only ']' (its class id 88 is removed by
# the decode filter, quirk Q1 — exercised by a dedicated test instead).
ALLOWED_CHARS = cs.CHARSET.replace("]", "")
# rng.choice needs unique symbols; drop the duplicate '\'
_ALLOWED_UNIQUE = sorted(set(ALLOWED_CHARS))

TPAGE_MAGIC = b"TPG1"
TPBIT_MAGIC = b"TPB1"
TPGV_MAGIC = b"TPV1"

EPOCH = np.datetime64("2026-01-01T00:00:00", "us")

LANGS = ["en", "de", "fr", "es", "pt", "unk"]


def page_capacity(h_px: int, w_px: int, s: int) -> tuple[int, int]:
    """(cols, rows) of glyph cells that fit on the page."""
    hb, wb = h_px // s, w_px // s
    cols = (wb - 2 * MARGIN_BITS - ft.GLYPH_COLS) // ADV_X_BITS + 1
    rows = (hb - 2 * MARGIN_BITS - ft.GLYPH_ROWS) // ADV_Y_BITS + 1
    return max(cols, 0), max(rows, 0)


def render_page(text: str, h: int = 256, w: int = 256, s: int = 4,
                font: np.ndarray | None = None,
                with_mark: bool = True) -> tuple[np.ndarray, list[str]]:
    """Render ``text`` onto an (h, w, 3) uint8 RGB page. Returns
    (image, lines) where lines is the row-major line split (the ground
    truth the extractor should reproduce, joined with '\\n')."""
    if font is None:
        font = ft.build_font()
    if h % (2 * s) or w % (2 * s):
        raise ValueError("page dims must be multiples of 2*s")
    cols, rows = page_capacity(h, w, s)
    if len(text) > cols * rows:
        raise ValueError(f"text too long: {len(text)} > {cols * rows}")
    img = np.full((h, w), PAPER, dtype=np.uint8)
    if with_mark:
        y0, x0 = CAL_OFF_BITS * s, CAL_OFF_BITS * s
        img[y0:y0 + CAL_BITS_H * s, x0:x0 + CAL_BITS_W * s] = INK
    lines = [text[i:i + cols] for i in range(0, len(text), cols)] if text else []
    for r, line in enumerate(lines):
        oy = (MARGIN_BITS + r * ADV_Y_BITS) * s
        for c, ch in enumerate(line):
            ox = (MARGIN_BITS + c * ADV_X_BITS) * s
            mask = ft.render_glyph_mask(ft.glyph_for_char(font, ch), s)
            cell = img[oy:oy + mask.shape[0], ox:ox + mask.shape[1]]
            cell[mask] = INK
    return np.repeat(img[:, :, None], 3, axis=2), lines


def encode_tpage(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return (TPAGE_MAGIC + int(h).to_bytes(2, "little")
            + int(w).to_bytes(2, "little") + img.tobytes())


def decode_tpage(buf: bytes) -> np.ndarray:
    if buf[:4] != TPAGE_MAGIC:
        raise ValueError("not a TPAGE payload")
    h = int.from_bytes(buf[4:6], "little")
    w = int.from_bytes(buf[6:8], "little")
    arr = np.frombuffer(buf, dtype=np.uint8, offset=8, count=h * w * 3)
    return arr.reshape(h, w, 3)


def encode_tpbit(img: np.ndarray, threshold: int | None = None) -> bytes:
    """TPBIT v1: 1 bit/px packed ink plane (bit=1 → ink 0, bit=0 → paper
    255), ``b"TPB1" + uint16_le h + uint16_le w + packbits(ink)``.

    24× smaller than TPG1 raw RGB — rendered pages are binary ink, so for
    them the round trip is byte-identical to the original RGB raster. This
    is the production wire format: payload bytes dominate the scan /
    shuffle / JVM→Python Arrow transfer, all of which shrink 24×.

    TPBIT is 1-bit: non-binary input (grayscale, PNG-decoded photos) can
    only be encoded LOSSILY. That must be an explicit choice, not a silent
    default — with ``threshold=None`` a plane containing values other than
    {0, 255} raises; pass ``threshold`` to opt into binarization
    (``plane < threshold`` → ink)."""
    plane = img[..., 0] if img.ndim == 3 else img
    h, w = plane.shape
    if threshold is None:
        if not bool(((plane == 0) | (plane == 255)).all()):
            raise ValueError(
                "TPBIT input is not binary {0,255}; encoding would be "
                "lossy — pass encode_tpbit(img, threshold=...) to opt in")
        threshold = 128
    bits = np.packbits((plane < threshold).reshape(-1))
    return (TPBIT_MAGIC + int(h).to_bytes(2, "little")
            + int(w).to_bytes(2, "little") + bits.tobytes())


def decode_tpbit(buf: bytes) -> np.ndarray:
    """TPBIT → (H, W, 3) uint8 RGB.

    Contract: the result is READ-ONLY (the channel axis is a stride-0
    ``broadcast_to`` view — widening materializes h*w bytes, not h*w*3;
    ``decode_tpage``'s frombuffer view is equally read-only). The pipeline
    only reads pages; mutation sites (e.g. drawing overlays) must copy
    first — viz.py already does."""
    if buf[:4] != TPBIT_MAGIC:
        raise ValueError("not a TPBIT payload")
    h = int.from_bytes(buf[4:6], "little")
    w = int.from_bytes(buf[6:8], "little")
    packed = np.frombuffer(buf, dtype=np.uint8, offset=8,
                           count=(h * w + 7) // 8)
    # bit=1 → INK(0), bit=0 → PAPER(255); channel axis is a stride-0
    # broadcast view (read-only, like decode_tpage's frombuffer) so the
    # widening writes h*w bytes, not h*w*3 — the pipeline only reads pages
    plane = ((np.unpackbits(packed, count=h * w) ^ 1)
             * np.uint8(255)).reshape(h, w)
    return np.broadcast_to(plane[:, :, None], (h, w, 3))


# Every payload format the engine recognizes by a fixed magic, as (magic
# prefix, RIFF form type at bytes 8:12 or None, name); the first matching
# row wins. ``sniff_format`` is the one reader.
FORMATS = [
    (TPAGE_MAGIC, None, "tpage"),
    (TPBIT_MAGIC, None, "tpbit"),
    (TPGV_MAGIC, None, "tpgv"),
    (b"\x89PNG", None, "png"),
    (b"\xff\xd8\xff", None, "jpeg"),
    (b"RIFF", b"WAVE", "wav"),
    (b"RIFF", b"WEBP", "webp"),
    (b"RIFF", None, "riff"),
    (b"GIF8", None, "gif"),
    (b"BM", None, "bmp"),
    (b"II*\x00", None, "tiff"),
    (b"MM\x00*", None, "tiff"),
    (b"%PDF-", None, "pdf"),
    (b"ID3", None, "mp3"),
    (b"fLaC", None, "flac"),
    (b"OggS", None, "ogg"),
    (b"<html", None, "html"),
    (b"<!DOC", None, "html"),
]


# MPEG audio frame header (ISO/IEC 11172-3, ISO/IEC 13818-3), read by the
# untagged-MP3 check of ``sniff_format`` and the frame walk of ops/audio.py.
# Bitrate tables (kbps), index 1..14 (0 = free, 15 = bad):
# key (version group, layer); MPEG-2 and 2.5 share one LSF table where
# layers II and III coincide.
MP3_BITRATES = {
    ("1", 1): (32, 64, 96, 128, 160, 192, 224, 256,
               288, 320, 352, 384, 416, 448),
    ("1", 2): (32, 48, 56, 64, 80, 96, 112, 128,
               160, 192, 224, 256, 320, 384),
    ("1", 3): (32, 40, 48, 56, 64, 80, 96, 112,
               128, 160, 192, 224, 256, 320),
    ("2", 1): (32, 48, 56, 64, 80, 96, 112, 128,
               144, 160, 176, 192, 224, 256),
    ("2", 2): (8, 16, 24, 32, 40, 48, 56, 64,
               80, 96, 112, 128, 144, 160),
    ("2", 3): (8, 16, 24, 32, 40, 48, 56, 64,
               80, 96, 112, 128, 144, 160),
}
MP3_RATES = {"1": (44100, 48000, 32000), "2": (22050, 24000, 16000),
             "2.5": (11025, 12000, 8000)}
MP3_VERSIONS = {0b00: "2.5", 0b10: "2", 0b11: "1"}   # 0b01 reserved
MP3_LAYERS = {0b01: 3, 0b10: 2, 0b11: 1}             # 0b00 reserved


def mp3_header(b0: int, b1: int, b2: int, b3: int):
    """Parse one 4-byte frame header → (version, layer, bitrate_kbps,
    sample_rate, channels, frame_len, samples_per_frame) or None if the
    bytes are not a valid header (the resync/stop signal)."""
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = MP3_VERSIONS.get((b1 >> 3) & 0b11)
    layer = MP3_LAYERS.get((b1 >> 1) & 0b11)
    if version is None or layer is None:
        return None
    br_idx, sr_idx = (b2 >> 4) & 0xF, (b2 >> 2) & 0b11
    if br_idx in (0, 15) or sr_idx == 3:   # free-format / bad
        return None
    grp = "1" if version == "1" else "2"
    bitrate = MP3_BITRATES[(grp, layer)][br_idx - 1] * 1000
    rate = MP3_RATES[version][sr_idx]
    pad = (b2 >> 1) & 1
    channels = 1 if ((b3 >> 6) & 0b11) == 0b11 else 2   # 11 = mono
    if layer == 1:
        spf = 384
        flen = (12 * bitrate // rate + pad) * 4
    else:
        spf = 576 if (layer == 3 and version != "1") else 1152
        flen = spf // 8 * bitrate // rate + pad
    return version, layer, bitrate // 1000, rate, channels, flen, spf


def sniff_format(buf) -> str:
    """Format name of a payload from ``FORMATS``, or ``"mp3"`` for an
    untagged MP3 (a valid 4-byte frame header), or ``"unknown"``."""
    head = bytes(buf[:12])
    for magic, form, name in FORMATS:
        if head.startswith(magic) and (form is None or head[8:12] == form):
            return name
    if len(head) >= 4 and mp3_header(*head[:4]) is not None:
        return "mp3"
    return "unknown"


def _ref_decoder(name: str):
    """``ref/<name>.py``'s ``decode_<name>``, imported on first use."""
    def decode(buf) -> np.ndarray:
        codec = importlib.import_module(f"tuatara_spark.ref.{name}")
        return getattr(codec, f"decode_{name}")(buf)
    return decode


def _decode_webp(buf) -> np.ndarray:
    from tuatara_spark.ref.webp import decode_webp
    img = decode_webp(bytes(buf))
    return img[..., :3] if img.shape[2] == 4 else img


# image format name → decoder to (H, W, 3) uint8 RGB
DECODERS = {"tpage": decode_tpage, "tpbit": decode_tpbit,
            **{n: _ref_decoder(n) for n in ("png", "jpeg", "gif", "bmp",
                                            "tiff")},
            "webp": _decode_webp}


def decode_payload(buf: bytes) -> np.ndarray:
    """Decode any image payload in ``DECODERS`` to an (H, W, 3) uint8 RGB
    array: TPAGE/TPBIT rasters, real PNG (the reference's own fixture
    format, examples/resume.cpp:9), JPEG baseline/progressive, GIF, BMP,
    TIFF and lossless WebP (alpha dropped). The returned array may be a
    READ-ONLY view (TPAGE: frombuffer; TPBIT and gray pages of every real
    format: stride-0 channel broadcast, which the OCR front end resizes
    and detects on one plane) — copy before mutating."""
    decode = DECODERS.get(sniff_format(buf))
    if decode is None:
        raise ValueError(
            f"unknown page payload magic {bytes(buf[:4])!r}")
    return decode(buf)


def decode_payloads(bufs) -> tuple[list, list]:
    """Decode a batch of payloads (bytes-like, or None for a null row) →
    (images, errors), two lists in input order. A row either has an image
    (as ``decode_payload`` returns it) or a ``"decode: …"`` error string,
    so a poison page becomes an error row, never a failed task."""
    images: list = [None] * len(bufs)
    errors: list = [None] * len(bufs)
    for i, b in enumerate(bufs):
        if b is None:
            errors[i] = "decode: null payload"
            continue
        try:
            images[i] = decode_payload(memoryview(b))
        except Exception as e:
            errors[i] = f"decode: {e}"
    return images, errors


def pages_to_parquet(df: pd.DataFrame, path: str) -> None:
    """Write a pages table to parquet with µs timestamps (pandas defaults
    to ns, which Spark's parquet reader rejects: PARQUET_TYPE_ILLEGAL)."""
    import pyarrow.parquet as pq
    import pyarrow as pa_
    tbl = pa_.Table.from_pandas(df, preserve_index=False)
    pq.write_table(tbl, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _make_url(rng: np.random.Generator, i: int) -> str:
    # Zipf-ish host distribution so url-hash salting is exercised
    host = min(int(rng.zipf(2.0)), 40)
    return f"https://example{host}.test/p{i // 100}/{i:06d}"


def make_pages(n: int, seed: int = 42, h: int = 256, w: int = 256,
               s: int = 4, n_large: int = 0, large_dim: int = 2048,
               font: np.ndarray | None = None,
               payload: str = "tpage") -> pd.DataFrame:
    """Deterministic pages table (url, warc_ts, html, text, lang).

    ``n`` small pages at (h, w) with glyph scale ``s``; ``n_large`` extra
    skew pages at (large_dim, large_dim) with scale 2*s (≈ (large_dim/h)²×
    the per-page cost — the 'skewed large pages' of the north_rule).
    ``text`` is the rendered ground truth ('\\n' between lines)."""
    if font is None:
        font = ft.build_font()
    encode = {"tpage": encode_tpage, "tpbit": encode_tpbit}[payload]
    rng = np.random.default_rng(seed)
    rows = []
    specs = [(h, w, s)] * n + [(large_dim, large_dim, 2 * s)] * n_large
    for i, (ph, pw, ps) in enumerate(specs):
        cols, prow = page_capacity(ph, pw, ps)
        cap = min(cols * prow, 40)
        length = int(rng.integers(1, cap + 1))
        chars = rng.choice(_ALLOWED_UNIQUE, size=length)
        text = "".join(chars)
        img, lines = render_page(text, ph, pw, ps, font=font)
        rows.append({
            "url": _make_url(rng, i),
            "warc_ts": EPOCH + np.timedelta64(int(rng.integers(0, 10_000_000)), "s"),
            "html": encode(img),
            "text": "\n".join(lines),
            "lang": LANGS[int(rng.integers(0, len(LANGS)))],
        })
    df = pd.DataFrame(rows)
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    return df
