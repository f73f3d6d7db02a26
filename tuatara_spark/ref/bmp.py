"""Pure-NumPy BMP codec (clean-room from the public Windows
BITMAPFILEHEADER/BITMAPINFOHEADER layout, documented since Windows 3.0).

decode: 1/4/8-bit paletted, 24-bit BGR and 32-bit BGRX, bottom-up or
top-down rows, 4-byte row padding, BI_RGB and BI_RLE8 compression.
encode: fixture-grade 24-bit BI_RGB (and 8-bit palette) writer so every
decode path round-trips without an image library.

Output is (H, W, 3) uint8 RGB like the other ref codecs; a paletted image
whose palette is all gray comes back as a read-only stride-0 broadcast of
one plane.
"""

from __future__ import annotations

import struct

import numpy as np

from tuatara_spark.ref.guard import check_dims


def decode_bmp(buf) -> np.ndarray:
    data = memoryview(buf).cast("B")
    if bytes(data[:2]) != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("BMP: pre-BITMAPINFOHEADER cores unsupported")
    w, h, _planes, bpp, comp = struct.unpack_from("<iihHI", data, 18)
    top_down = h < 0
    h = abs(h)
    check_dims(w, h, "bmp")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError(f"BMP: {bpp}-bit unsupported")
    if comp not in (0, 1):                   # BI_RGB, BI_RLE8
        raise ValueError(f"BMP: compression {comp} unsupported")
    palette = None
    if bpp <= 8:
        (n_colors,) = struct.unpack_from("<I", data, 46)
        n_colors = n_colors or (1 << bpp)
        pal_off = 14 + hdr_size
        pal = np.frombuffer(data[pal_off:pal_off + 4 * n_colors],
                            np.uint8).reshape(-1, 4)
        palette = pal[:, [2, 1, 0]].copy()   # BGRX → RGB
    # a gray palette (three equal columns) decodes one plane, returned as
    # a stride-0 channel broadcast like the other ref codecs' gray pages
    gray = palette is not None and bool((palette == palette[:, :1]).all())
    if gray:
        palette = palette[:, :1]
    if comp == 1:
        if bpp != 8:
            raise ValueError("BMP: RLE8 requires 8-bit")
        px = palette[np.minimum(_rle8_decode(data[pix_off:], w, h),
                                len(palette) - 1)]
    else:
        row_bytes = (w * bpp + 31) // 32 * 4
        raw = np.frombuffer(data[pix_off:pix_off + row_bytes * h],
                            np.uint8)
        if raw.size < row_bytes * h:
            raise ValueError("BMP: truncated pixel data")
        rows = raw.reshape(h, row_bytes)
        if bpp == 24:
            px = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]
        elif bpp == 32:
            px = rows[:, :w * 4].reshape(h, w, 4)[:, :, [2, 1, 0]]
        else:
            if bpp == 8:
                idx = rows[:, :w]
            else:                            # 1/4-bit: unpack MSB-first
                bits = np.unpackbits(rows, axis=1)
                groups = bits[:, :w * bpp].reshape(h, w, bpp)
                weights = (1 << np.arange(bpp - 1, -1, -1)) \
                    .astype(np.uint8)
                idx = (groups * weights).sum(axis=2, dtype=np.uint8)
            px = palette[np.minimum(idx, len(palette) - 1)]
    if not top_down:
        px = px[::-1]
    px = np.ascontiguousarray(px)
    return np.broadcast_to(px, (h, w, 3)) if gray else px


def _rle8_decode(data, w: int, h: int) -> np.ndarray:
    """BI_RLE8: (count, value) runs; 0-escapes: 0=end of line, 1=end of
    bitmap, 2=delta (dx, dy), n≥3=absolute run padded to 2 bytes."""
    idx = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    pos = 0
    while pos + 1 < len(data) and y < h:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            end = min(x + cnt, w)
            idx[y, x:end] = val
            x = end
            continue
        if val == 0:                         # end of line
            x, y = 0, y + 1
        elif val == 1:                       # end of bitmap
            break
        elif val == 2:                       # delta
            x = min(x + data[pos], w)
            y += data[pos + 1]
            pos += 2
        else:                                # absolute mode
            end = min(x + val, w)
            take = end - x
            idx[y, x:end] = np.frombuffer(data[pos:pos + take], np.uint8)
            x = end
            pos += val + (val & 1)           # word-aligned
    return idx


def encode_bmp(img: np.ndarray, bpp: int = 24) -> bytes:
    """(H, W[, 3]) uint8 → bottom-up BI_RGB BMP (24-bit true color or
    8-bit palette from unique colors)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.broadcast_to(img[:, :, None], img.shape + (3,))
    h, w = img.shape[:2]
    pal = b""
    if bpp == 24:
        row_bytes = (w * 3 + 3) // 4 * 4
        rows = np.zeros((h, row_bytes), dtype=np.uint8)
        rows[:, :w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
        n_colors = 0
    elif bpp == 8:
        colors, inv = np.unique(img.reshape(-1, 3), axis=0,
                                return_inverse=True)
        if len(colors) > 256:
            raise ValueError("bmp: more than 256 unique colors for 8-bit")
        n_colors = len(colors)
        pal_arr = np.zeros((n_colors, 4), dtype=np.uint8)
        pal_arr[:, :3] = colors[:, ::-1]     # RGB → BGRX
        pal = pal_arr.tobytes()
        idx = inv.astype(np.uint8).reshape(h, w)
        row_bytes = (w + 3) // 4 * 4
        rows = np.zeros((h, row_bytes), dtype=np.uint8)
        rows[:, :w] = idx[::-1]
    else:
        raise ValueError("encode_bmp writes 24- or 8-bit only")
    pix = rows.tobytes()
    pix_off = 14 + 40 + len(pal)
    hdr = (b"BM" + struct.pack("<IHHI", pix_off + len(pix), 0, 0, pix_off)
           + struct.pack("<IiihHIIiiII", 40, w, h, 1, bpp, 0, len(pix),
                         2835, 2835, n_colors, 0))
    return hdr + pal + pix
