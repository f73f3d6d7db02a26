"""Scan-shaped PNG fixtures and the stdlib PNG encoder that writes them.

The encoder uses only ``zlib``/``struct`` and shares no code with the
decoder under test (``tuatara_spark/ref/png.py``). It cycles all five
scanline filters row by row, packs 1-bit gray, writes Adam7-interlaced
images and can split the zlib stream across several IDAT chunks.

The pages have the shape of a document scan: bright paper with a soft
gradient and a little sensor noise, dark ink whose glyph edges are
blurred to intermediate grey, rendered from the engine's own glyph font
so the detector has text to find. Regenerate the committed files with

    python tests/png_fixtures.py

which rewrites ``fixtures/png/*.png`` byte for byte.
"""

import os
import struct
import zlib

import numpy as np

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO_ROOT, "fixtures", "png")

# (row start, column start, row step, column step) of the 7 Adam7 passes
_ADAM7 = ((0, 0, 8, 8), (0, 4, 8, 8), (4, 0, 8, 4), (0, 2, 4, 4),
          (2, 0, 4, 2), (0, 1, 2, 2), (1, 0, 2, 1))


def _filtered(rows: np.ndarray, bpp: int) -> bytes:
    """Filter (h, row_bytes) scanlines, cycling filter type y % 5 per row,
    each type an independently written forward transform."""
    rows = rows.astype(np.int32)
    out = []
    prev = np.zeros(rows.shape[1], np.int32)
    for y, row in enumerate(rows):
        ft = y % 5
        a = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
        ac = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - a) & 0xFF
        elif ft == 2:
            enc = (row - prev) & 0xFF
        elif ft == 3:
            enc = (row - ((a + prev) >> 1)) & 0xFF
        else:
            p = a + prev - ac
            pa, pb, pc = abs(p - a), abs(p - prev), abs(p - ac)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, prev, ac))
            enc = (row - pred) & 0xFF
        out.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = row
    return b"".join(out)


def encode_png(img: np.ndarray, color_type: int = 2, bit_depth: int = 8,
               interlace: bool = False, idat_size: int = 0) -> bytes:
    """Encode an (H, W, C) uint8 image: C = 1 for gray (color type 0),
    2 for gray + alpha (4), 3 for RGB (2), 4 for RGBA (6). ``bit_depth=1`` (gray only) packs
    pixels ≥ 128 as 1. ``idat_size`` > 0 splits the compressed stream
    into IDAT chunks of that many bytes."""
    h, w = img.shape[:2]
    c = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    assert bit_depth == 8 or (bit_depth == 1 and color_type == 0)
    img = img.reshape(h, w, c)

    def scanlines(sub: np.ndarray) -> bytes:
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            return b""                  # an empty Adam7 pass has no rows
        if bit_depth == 1:
            return _filtered(np.packbits(sub[..., 0] >= 128, axis=1), 1)
        return _filtered(sub.reshape(sub.shape[0], -1), c)

    if interlace:
        raw = b"".join(scanlines(img[y0::dy, x0::dx])
                       for y0, x0, dy, dx in _ADAM7)
    else:
        raw = scanlines(img)
    data = zlib.compress(raw, 9)
    step = idat_size or len(data)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, bit_depth,
                                         color_type, 0, 0, int(interlace)))
            + b"".join(chunk(b"IDAT", data[i:i + step])
                       for i in range(0, len(data), step))
            + chunk(b"IEND", b""))


def _scan(text: str, h: int, w: int, seed: int, paper, ink,
          rules: bool = False) -> np.ndarray:
    """(h, w, 3) uint8 scan-shaped page: ``text`` in the engine's glyph
    font, edges blurred by a 3×3 box, over a paper tone that darkens
    toward the bottom, plus ±2 levels of seeded noise."""
    from tuatara_spark import fixtures as fx
    cover = (fx.render_page(text, h, w, 4)[0][..., 0] < 128).astype(float)
    if rules:                           # ruled table lines under the text
        cover[h - 40::-48, 8:w - 8] = 1.0
    padded = np.pad(cover, 1)
    cover = sum(padded[i:i + h, j:j + w]
                for i in range(3) for j in range(3)) / 9.0
    rng = np.random.default_rng(seed)
    fade = np.linspace(0.0, 8.0, h)[:, None, None]
    shade = np.asarray(paper, float) - fade + rng.integers(-2, 3, (h, w, 1))
    pix = shade * (1 - cover[..., None]) + np.asarray(ink, float) * \
        cover[..., None]
    return np.clip(np.rint(pix), 0, 255).astype(np.uint8)


def scan_pages() -> dict[str, tuple[np.ndarray, dict]]:
    """name → (source pixels, encode_png keyword arguments). Gray sources
    are (H, W, 1); each decodes to (H, W, 3)."""
    gray1 = _scan("Binarized1bitScan", 400, 304, 1, (250,) * 3, (0,) * 3)
    gray1 = np.where(gray1[..., :1] >= 128, 255, 0).astype(np.uint8)
    gray8 = _scan("GrayInvoiceTotal42", 480, 352, 2, (244,) * 3,
                  (28,) * 3, rules=True)[..., :1]
    rgb = _scan("ColourScanOfALetter", 352, 480, 3, (247, 240, 226),
                (22, 30, 70))
    adam7 = _scan("Adam7Pg", 208, 272, 4, (242, 242, 236), (35, 25, 20))
    return {
        "scan_gray1.png": (gray1, dict(color_type=0, bit_depth=1,
                                       idat_size=256)),
        "scan_gray8.png": (gray8, dict(color_type=0, idat_size=8192)),
        "scan_rgb.png": (rgb, dict(color_type=2, idat_size=16384)),
        "scan_rgb_adam7.png": (adam7, dict(color_type=2, interlace=True,
                                           idat_size=4096)),
    }


def main() -> None:
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    for name, (pixels, kw) in scan_pages().items():
        path = os.path.join(FIXTURE_DIR, name)
        with open(path, "wb") as f:
            f.write(encode_png(pixels, **kw))
        print(path, os.path.getsize(path))


if __name__ == "__main__":
    import sys
    sys.path.insert(0, REPO_ROOT)
    main()
