"""Pure-Python GIF codec (clean-room from the public GIF87a/GIF89a
specifications, CompuServe 1987/1989; the LZW variable-code algorithm is
the published one — its patents expired in 2003/2004).

decode: logical screen + global/local color tables, multiple image
blocks (frames), interlaced row order, extension-block skip (GCE
transparency index honored per frame), variable-width LZW with CLEAR /
EOI handling and the deferred-clear quirk. 16-bit fields are
little-endian. Output is (H, W, 3) uint8 RGB composited on the logical
screen (background-color fill, frame blitted at its offset) — the
still-image view cv::imread-style ingest needs; `decode_gif_frames`
yields every frame for the video-style ops (frame sampling / scene
cuts).

encode: fixture-grade GIF89a writer — global palette built from the
image's unique colors (≤256), real LZW compression, optional interlace
— so every decoder path is round-trip covered without an image library.

Reference parity note: the reference engine ingests pre-decoded rasters
via stb/OpenCV (tuatara.cpp:333-352); this module supplies the
equivalent public-format ingest for the Spark engine, like ref/png.py
and ref/jpeg.py.
"""

from __future__ import annotations

import struct

import numpy as np

from tuatara_spark.ref.guard import check_dims

# interlaced GIF row order: (first row, step) per pass (spec appendix E)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """Variable-width LZW (GIF flavor): codes start at min_code_size+1
    bits; CLEAR resets the dictionary, EOI ends; width bumps when the
    dict reaches 2^width (capped at 12 bits until the next CLEAR)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    # bit reader over the concatenated sub-block data, LSB-first
    acc = 0
    nbits = 0
    pos = 0

    def read_code(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return eoi                 # truncated stream: stop clean
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    base = [bytes((i,)) for i in range(clear)]
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read_code(width)
        if code == clear:
            table = list(base) + [b"", b""]    # CLEAR + EOI placeholders
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table:                      # stream may omit leading CLEAR
            table = list(base) + [b"", b""]
        if code < len(table) and (code < clear or code > eoi):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]        # the KwKwK case
        else:
            raise ValueError(f"gif: bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


def _lzw_encode(pixels: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW encoder (emits CLEAR up front and EOI at the end;
    resets when the 12-bit table fills)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict:
        return {bytes((i,)): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in pixels:
        cand = run + bytes((b,))
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4095:
            emit(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes((b,))
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _read_color_table(buf: memoryview, pos: int, n: int):
    tbl = np.frombuffer(buf[pos:pos + 3 * n], np.uint8).reshape(n, 3)
    return tbl, pos + 3 * n


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    out = np.empty_like(idx)
    src = 0
    for first, step in _INTERLACE_PASSES:
        rows = range(first, h, step)
        for r in rows:
            out[r] = idx[src]
            src += 1
    return out


def _is_gray(table: np.ndarray) -> bool:
    return bool((table == table[:, :1]).all())


def decode_gif_frames(buf) -> list[np.ndarray]:
    """All frames of a GIF as (H, W, 3) uint8 RGB arrays composited on
    the logical screen (each frame starts from the previous composite —
    disposal 'do not dispose', the dominant web case; transparent pixels
    leave the underlying composite visible). While every color table seen
    so far is gray, a frame is a read-only stride-0 broadcast of one
    plane."""
    data = memoryview(buf).cast("B")
    if bytes(data[:6]) not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    check_dims(sw, sh, "gif")
    pos = 13
    gct = None
    if flags & 0x80:
        gct, pos = _read_color_table(data, pos, 2 << (flags & 7))
    if gct is not None:
        screen = np.broadcast_to(gct[bg if bg < len(gct) else 0],
                                 (sh, sw, 3)).copy()
    else:
        screen = np.zeros((sh, sw, 3), dtype=np.uint8)
    gray = gct is None or _is_gray(gct)
    frames: list[np.ndarray] = []
    transparent = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                  # trailer
            break
        if block == 0x21:                  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:              # graphic control: transparency
                size = data[pos]
                gc_flags = data[pos + 1]
                tindex = data[pos + 4]
                transparent = tindex if gc_flags & 1 else None
                pos += 1 + size
                if data[pos] != 0:
                    raise ValueError("gif: unterminated GCE")
                pos += 1
            else:                          # skip sub-blocks
                while True:
                    size = data[pos]
                    pos += 1 + size
                    if size == 0:
                        break
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
        fx_, fy, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        table = gct
        if iflags & 0x80:
            table, pos = _read_color_table(data, pos, 2 << (iflags & 7))
        if table is None:
            raise ValueError("gif: image without any color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            size = data[pos]
            pos += 1
            lzw += data[pos:pos + size]
            pos += size
            if size == 0:
                break
        idx = np.frombuffer(
            _lzw_decode(bytes(lzw), min_code, fw * fh),
            np.uint8)
        if idx.size < fw * fh:             # truncated frame: pad with bg
            idx = np.concatenate(
                [idx, np.zeros(fw * fh - idx.size, np.uint8)])
        idx = idx.reshape(fh, fw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        rgb = table[np.minimum(idx, len(table) - 1)]
        region = screen[fy:fy + fh, fx_:fx_ + fw]
        if transparent is not None:
            mask = (idx != transparent)[:, :, None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        gray = gray and _is_gray(table)
        frames.append(np.broadcast_to(screen[..., :1].copy(), screen.shape)
                      if gray else screen.copy())
        transparent = None
    if not frames:
        raise ValueError("gif: no image data")
    return frames


def decode_gif(buf) -> np.ndarray:
    """First composited frame as (H, W, 3) uint8 RGB (still-image
    ingest view)."""
    return decode_gif_frames(buf)[0]


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W, 3) or (H, W) uint8 → GIF89a with a global palette built
    from the unique colors (must be ≤256; quantization is out of scope
    for a fixture writer)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.broadcast_to(img[:, :, None], img.shape + (3,))
    h, w = img.shape[:2]
    colors, inv = np.unique(img.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("gif: more than 256 unique colors")
    depth = max(1, int(len(colors) - 1).bit_length())
    table = np.zeros((1 << depth, 3), dtype=np.uint8)
    table[:len(colors)] = colors
    idx = inv.astype(np.uint8).reshape(h, w)
    if interlace:
        rows = [r for first, step in _INTERLACE_PASSES
                for r in range(first, h, step)]
        idx_out = idx[rows]
    else:
        idx_out = idx
    min_code = max(2, depth)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                       0x40 if interlace else 0)
    out.append(min_code)
    lzw = _lzw_encode(idx_out.tobytes(), min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)                          # block terminator
    out.append(0x3B)                       # trailer
    return bytes(out)
