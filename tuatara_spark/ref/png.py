"""Pure-NumPy PNG codec (stdlib zlib + per-scanline unfiltering).

Implements the full still-image feature matrix of the public PNG
specification (W3C PNG spec / RFC 2083): color types 0 gray / 2 RGB /
3 palette / 4 gray+alpha / 6 RGBA at every legal bit depth (1/2/4/8/16),
non-interlaced AND Adam7-interlaced — no image codec library exists in
this container. 1-bit grayscale matters specifically: it is the native
format of scanned binary document pages, the OCR pipeline's core input.
16-bit samples reduce to their high byte (cv::imread IMREAD_COLOR-style
8-bit output). This un-stubs the pipeline's S1 ingest for the
reference's own entry format: examples/resume.cpp:9 reads
``images/*.png`` via cv::imread; like IMREAD_COLOR we return a 3-channel
image (alpha dropped, gray replicated).

Output is (H, W, 3) uint8 RGB, directly consumable by
``ref.pipeline.extract_page`` / ``engine.extract_df``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from tuatara_spark.ref.guard import check_dims

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths per color type (PNG spec §11.2.2)
_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
           4: (8, 16), 6: (8, 16)}
# Adam7 pass origins/strides: (x0, y0, dx, dy) per pass (spec §8.2)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _paeth_row(filt: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Paeth (filter 4) reconstruction of one scanline — sequential in x
    (recon[x] depends on recon[x-bpp]), vectorized across the bpp lanes."""
    n = filt.shape[0]
    recon = np.empty(n, dtype=np.int32)
    f = filt.astype(np.int32)
    b = prev.astype(np.int32)
    for x in range(0, n, bpp):
        a = recon[x - bpp:x] if x >= bpp else np.zeros(bpp, dtype=np.int32)
        c = b[x - bpp:x] if x >= bpp else np.zeros(bpp, dtype=np.int32)
        bb = b[x:x + bpp]
        p = a + bb - c
        pa, pb, pc = np.abs(p - a), np.abs(p - bb), np.abs(p - c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, bb, c))
        recon[x:x + bpp] = (f[x:x + bpp] + pred) & 0xFF
    return recon.astype(np.uint8)


def _average_row(filt: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Average (filter 3) reconstruction — sequential in x like Paeth."""
    n = filt.shape[0]
    recon = np.empty(n, dtype=np.int32)
    f = filt.astype(np.int32)
    b = prev.astype(np.int32)
    for x in range(0, n, bpp):
        a = recon[x - bpp:x] if x >= bpp else np.zeros(bpp, dtype=np.int32)
        recon[x:x + bpp] = (f[x:x + bpp] + ((a + b[x:x + bpp]) >> 1)) & 0xFF
    return recon.astype(np.uint8)


def _sub_row(filt: np.ndarray, bpp: int) -> np.ndarray:
    """Sub (filter 1): per-lane prefix sum mod 256 — fully vectorized."""
    lanes = filt.reshape(-1, bpp).astype(np.int64)
    return (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(-1)


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters (types 0-4). ``raw`` is the
    decompressed stream of h * (1 + stride) bytes."""
    raw = raw.reshape(h, 1 + stride)
    ftypes = raw[:, 0]
    data = raw[:, 1:]
    out = np.empty((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = int(ftypes[y])
        prev = out[y - 1] if y else zero
        row = data[y]
        if ft == 0:
            out[y] = row
        elif ft == 1:
            out[y] = _sub_row(row, bpp)
        elif ft == 2:
            out[y] = row + prev  # uint8 wraparound == mod 256
        elif ft == 3:
            out[y] = _average_row(row, prev, bpp)
        elif ft == 4:
            out[y] = _paeth_row(row, prev, bpp)
        else:
            raise ValueError(f"bad PNG filter type {ft} at row {y}")
    return out


def _unpack_samples(rows: np.ndarray, w: int, ch: int,
                    depth: int) -> np.ndarray:
    """(h, stride_bytes) reconstructed scanline bytes → (h, w, ch) uint8
    samples: sub-byte depths unpacked MSB-first, 16-bit reduced to the
    high byte (spec: samples are big-endian)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, :w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, :w * ch * 2].reshape(h, w, ch, 2)[..., 0]
    bits = np.unpackbits(rows, axis=1)
    groups = bits[:, :w * ch * depth].reshape(h, w * ch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (groups * weights).sum(axis=2, dtype=np.uint8) \
        .reshape(h, w, ch)


def _pack_samples(px: np.ndarray, depth: int) -> np.ndarray:
    """(h, w, ch) uint8 DEPTH-domain samples → (h, stride_bytes) scanline
    bytes (inverse of _unpack_samples; 16-bit expands v → v·257 so the
    high byte reproduces v)."""
    h = px.shape[0]
    flat = px.reshape(h, -1)
    if depth == 8:
        return np.ascontiguousarray(flat)
    if depth == 16:
        wide = (flat.astype(np.uint16) * 257).astype(">u2")
        return wide.view(np.uint8).reshape(h, -1)
    bits = ((flat[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1) \
        .astype(np.uint8).reshape(h, -1)
    return np.packbits(bits, axis=1)


def encode_png(img: np.ndarray, compress_level: int = 6,
               bit_depth: int = 8, color_type: int = 2,
               interlace: bool = False) -> bytes:
    """Encode an image as PNG (filter type 0 per scanline + zlib).
    Defaults match the original fixture writer: 8-bit RGB from an
    (H, W[, 3]) uint8 array (grayscale replicated). Other modes
    (fixture-grade, for decoder coverage):
      color_type 0 — (H, W) gray, any depth; 8-bit input is quantized to
        ``v·(2^d−1)//255`` so full-range values round-trip exactly;
      color_type 2 — RGB at depth 8/16;
      color_type 3 — (H, W, 3) input, palette built from unique colors
        (must fit 2^depth entries).
    ``interlace`` writes Adam7 passes. Round-trips exactly through
    decode_png; used by the S30 debug dumps so annotated pages open in
    any viewer (the reference writes its annotated overlay as a PNG,
    bindings/run_ocr.py:82)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if bit_depth not in _DEPTHS.get(color_type, ()):
        raise ValueError(f"PNG: depth {bit_depth} invalid for color type "
                         f"{color_type}")
    plte = b""
    if color_type == 0:
        g = img if img.ndim == 2 else img[..., 0]
        if bit_depth < 8:
            px = (g.astype(np.uint16) * ((1 << bit_depth) - 1)
                  // 255).astype(np.uint8)[:, :, None]
        else:
            px = g[:, :, None]
    elif color_type == 2:
        if img.ndim == 2:
            img = np.repeat(img[:, :, None], 3, axis=2)
        px = np.ascontiguousarray(img[..., :3])
    elif color_type == 3:
        colors, inv = np.unique(img.reshape(-1, 3), axis=0,
                                return_inverse=True)
        if len(colors) > (1 << bit_depth):
            raise ValueError("PNG palette overflow for bit depth")
        plte = colors.astype(np.uint8).tobytes()
        px = inv.astype(np.uint8).reshape(img.shape[0], img.shape[1], 1)
    else:
        raise ValueError("encode_png writes color types 0/2/3")
    h, w = px.shape[:2]

    raw = bytearray()

    def emit(rows: np.ndarray) -> None:
        packed = _pack_samples(rows, bit_depth)
        for y in range(packed.shape[0]):
            raw.append(0)                  # filter type 0 (None)
            raw.extend(packed[y].tobytes())

    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                emit(sub)
    else:
        emit(px)
    idat = zlib.compress(bytes(raw), compress_level)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0,
                       1 if interlace else 0)
    out = PNG_MAGIC + chunk(b"IHDR", ihdr)
    if plte:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png(buf: bytes) -> np.ndarray:
    """Decode a PNG byte string to (H, W, 3) uint8 RGB (alpha dropped,
    grayscale replicated — cv::imread IMREAD_COLOR semantics, but RGB
    channel order as the pipeline's Python-binding entry expects)."""
    if bytes(buf[:8]) != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        clen, ctype = struct.unpack(">I4s", buf[pos:pos + 8])
        body = buf[pos + 8:pos + 8 + clen]
        pos += 12 + clen  # len + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            (width, height, bit_depth, color_type,
             _comp, _filt, interlace) = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    check_dims(width, height, "png")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if bit_depth not in _DEPTHS[color_type]:
        raise ValueError(f"PNG: depth {bit_depth} invalid for color type "
                         f"{color_type}")
    if interlace not in (0, 1):
        raise ValueError(f"unsupported PNG interlace method {interlace}")
    ch = _CHANNELS[color_type]
    bpp = max(1, ch * bit_depth // 8)        # filter distance in bytes

    def stride_of(wp: int) -> int:
        return (wp * ch * bit_depth + 7) // 8

    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if not interlace:
        stride = stride_of(width)
        if raw.size != height * (1 + stride):
            raise ValueError("PNG IDAT size mismatch")
        rows = _unfilter(raw, height, stride, bpp)
        px = _unpack_samples(rows, width, ch, bit_depth)
    else:                                    # Adam7: 7 independent passes
        px = np.zeros((height, width, ch), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            st = stride_of(pw)
            take = ph * (1 + st)
            sub = np.ascontiguousarray(raw[pos:pos + take])
            pos += take
            if sub.size != take:
                raise ValueError("PNG IDAT size mismatch (interlaced)")
            rows = _unfilter(sub, ph, st, bpp)
            px[y0::dy, x0::dx] = _unpack_samples(rows, pw, ch, bit_depth)
        if pos != raw.size:
            raise ValueError("PNG IDAT size mismatch (interlaced)")
    if color_type in (0, 4) and bit_depth < 8:   # scale gray to 8-bit
        px = px * np.uint8(255 // ((1 << bit_depth) - 1))
    if color_type == 0:                      # gray
        return np.broadcast_to(px, px.shape[:2] + (3,))
    if color_type == 2:                      # RGB
        return px
    if color_type == 3:                      # palette
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[px[..., 0]]
    if color_type == 4:                      # gray + alpha
        return np.broadcast_to(px[..., :1], px.shape[:2] + (3,))
    return np.ascontiguousarray(px[..., :3])  # RGBA → RGB
