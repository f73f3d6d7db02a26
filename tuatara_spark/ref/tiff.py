"""Pure-NumPy TIFF codec (clean-room from the public TIFF 6.0
specification, Aldus/Adobe 1992 — the dominant scanned-document archive
format).

decode: both byte orders (II/MM), strip-organized baseline images —
bilevel (1-bit, WhiteIsZero or BlackIsZero), 8-bit grayscale, 24-bit
RGB, 16-bit-colormap palette — with Compression 1 (none), 32773
(PackBits) or 5 (TIFF-flavor LZW: MSB-first codes, early code-width
change) and Predictor 2 (horizontal differencing). Multi-strip images
reassemble in row order.

encode: fixture-grade little-endian writer (gray8 / rgb24 / bilevel,
any of the three compressions, optional predictor, configurable
rows-per-strip) so every decoder path round-trips without an image
library.

Output is (H, W, 3) uint8 RGB like the other ref codecs.
"""

from __future__ import annotations

import struct

import numpy as np

from tuatara_spark.ref.guard import check_dims

# tag ids (TIFF 6.0 §8)
_WIDTH, _LENGTH, _BITS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PREDICTOR, _COLORMAP = 317, 320
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:                      # literal run of b+1
            out += data[i:i + b + 1]
            i += b + 1
        elif b > 128:                    # repeat next byte 257-b times
            out += data[i:i + 1] * (257 - b)
            i += 1
        # 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out += bytes((257 - (j - i), data[i]))
            i = j
        else:
            j = i + 1
            while (j < n and j - i < 128
                   and not (j + 1 < n and data[j] == data[j + 1])):
                j += 1
            out += bytes((j - i - 1,)) + data[i:j]
            i = j
    return bytes(out)


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF LZW (§13): MSB-first codes, Clear=256 EOI=257, 9-bit start,
    EARLY code-width change (bump at table size 2^w − 1)."""
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0

    def read(width: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return 257
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        return code

    base = [bytes((i,)) for i in range(256)]
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    while len(out) < max_out:
        code = read(width)
        if code == 256:
            table = list(base) + [b"", b""]
            width = 9
            prev = None
            continue
        if code == 257:
            break
        if not table:
            table = list(base) + [b"", b""]
        if code < len(table) and code not in (256, 257):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"tiff: bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4094:
            table.append(prev + entry[:1])
        # early change, decoder side: the decoder's table lags the
        # encoder's by exactly one entry (it reconstructs an entry only
        # when the NEXT code arrives), so it widens at 2^w − 2 where the
        # encoder widens at 2^w − 1
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
        prev = entry
    return bytes(out[:max_out])


def _lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh() -> dict:
        return {bytes((i,)): i for i in range(256)}

    table = fresh()
    next_code = 258
    width = 9
    emit(256, width)
    run = b""
    for b in data:
        cand = run + bytes((b,))
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code >= (1 << width) - 1 and width < 12:
            width += 1
        if next_code > 4093:
            emit(256, width)
            table = fresh()
            next_code = 258
            width = 9
        run = bytes((b,))
    if run:
        emit(table[run], width)
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def decode_tiff(buf) -> np.ndarray:
    data = memoryview(buf).cast("B")
    head = bytes(data[:4])
    if head[:2] == b"II" and head[2:4] == b"*\x00":
        e = "<"
    elif head[:2] == b"MM" and head[2:4] == b"\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(e + "I", data, 4)
    (n_entries,) = struct.unpack_from(e + "H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        tag, typ, cnt, raw = struct.unpack_from(
            e + "HHI4s", data, ifd_off + 2 + 12 * i)
        size = _TYPE_SIZE.get(typ, 1) * cnt
        if size <= 4:
            body = raw[:size]
        else:
            (off,) = struct.unpack_from(e + "I", raw, 0)
            # the slice bounds the read — a corrupt count can never
            # allocate beyond the payload itself
            body = bytes(data[off:off + size])
        dt = {1: "u1", 3: "u2", 4: "u4"}.get(typ)
        if dt:
            vals = np.frombuffer(
                body[:len(body) - len(body) % int(dt[1])],
                dtype=dt if typ == 1 else e + dt)
            tags[tag] = [int(v) for v in vals]
    w = tags[_WIDTH][0]
    h = tags[_LENGTH][0]
    check_dims(w, h, "tiff")
    bits = tags.get(_BITS, [1])
    spp = tags.get(_SPP, [1])[0]
    comp = tags.get(_COMP, [1])[0]
    photo = tags.get(_PHOTO, [1])[0]
    predictor = tags.get(_PREDICTOR, [1])[0]
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0]
    offs = tags[_STRIP_OFF]
    cnts = tags[_STRIP_CNT]
    bps = bits[0]
    if any(b != bps for b in bits) or bps not in (1, 8):
        raise ValueError(f"tiff: bits-per-sample {bits} unsupported")
    if comp not in (1, 5, 32773):
        raise ValueError(f"tiff: compression {comp} unsupported "
                         "(CCITT/JPEG-in-TIFF need codec libraries)")
    row_bytes = (w * spp * bps + 7) // 8
    raw = bytearray()
    for k, (off, cnt) in enumerate(zip(offs, cnts)):
        strip = bytes(data[off:off + cnt])
        if comp == 32773:
            strip = _packbits_decode(strip)
        elif comp == 5:
            n_rows = min(rows_per_strip, h - k * rows_per_strip)
            strip = _lzw_decode(strip, row_bytes * n_rows)
        raw += strip
    if len(raw) < row_bytes * h:
        raise ValueError("tiff: truncated strip data")
    rows = np.frombuffer(bytes(raw[:row_bytes * h]),
                         np.uint8).reshape(h, row_bytes)
    if bps == 1:
        bits_arr = np.unpackbits(rows, axis=1)[:, :w]
        plane = (bits_arr * np.uint8(255))
        if photo == 0:                   # WhiteIsZero: 0 bit = white
            plane = np.uint8(255) - plane
        return np.broadcast_to(plane[:, :, None], plane.shape + (3,))
    px = rows[:, :w * spp].reshape(h, w, spp)
    if predictor == 2:                   # horizontal differencing
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    if photo == 3:                       # palette via 16-bit ColorMap
        cm = np.array(tags[_COLORMAP], dtype=np.uint16).reshape(3, -1)
        pal = (cm >> 8).astype(np.uint8).T     # high byte → 8-bit RGB
        return pal[np.minimum(px[..., 0], len(pal) - 1)]
    if spp == 1:
        g = px[..., 0]
        if photo == 0:
            g = np.uint8(255) - g
        return np.broadcast_to(g[:, :, None], g.shape + (3,))
    return np.ascontiguousarray(px[..., :3])


def encode_tiff(img: np.ndarray, compression: str = "none",
                predictor: bool = False, rows_per_strip: int = 0,
                bilevel: bool = False) -> bytes:
    """(H, W[, 3]) uint8 → little-endian baseline TIFF. ``compression``:
    none | packbits | lzw; ``predictor`` applies horizontal differencing
    (LZW only, per the spec's intent); ``bilevel`` writes a 1-bit
    BlackIsZero image from a binary {0,255} plane."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w = img.shape[:2]
    if bilevel:
        plane = img[..., 0]
        if not bool(((plane == 0) | (plane == 255)).all()):
            raise ValueError("tiff: bilevel needs a binary {0,255} plane")
        rows = np.packbits(plane == 255, axis=1)
        spp, bps, photo = 1, 1, 1
    elif img.shape[2] == 1:
        rows = img[..., 0]
        spp, bps, photo = 1, 8, 1
    else:
        rows = img[..., :3].reshape(h, w * 3)
        spp, bps, photo = 3, 8, 2
    if predictor and not bilevel:
        px = rows.reshape(h, w, spp).astype(np.int16)
        d = np.diff(px, axis=1)
        rows = np.concatenate([px[:, :1], d], axis=1) \
            .astype(np.uint8).reshape(h, -1)
    rps = rows_per_strip or h
    comp_id = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    strips = []
    for y0 in range(0, h, rps):
        blob = rows[y0:y0 + rps].tobytes()
        if compression == "packbits":
            blob = _packbits_encode(blob)
        elif compression == "lzw":
            blob = _lzw_encode(blob)
        strips.append(blob)

    entries: list[tuple[int, int, int, bytes]] = []   # tag, type, cnt, val

    def ent(tag, typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        body = struct.pack("<" + fmt * len(vals), *vals)
        entries.append((tag, typ, len(vals), body))

    n_strips = len(strips)
    # layout: header(8) + IFD + out-of-line arrays + strip data
    ent(_WIDTH, 3, [w])
    ent(_LENGTH, 3, [h])
    ent(_BITS, 3, [bps] * spp)
    ent(_COMP, 3, [comp_id])
    ent(_PHOTO, 3, [photo])
    ent(_STRIP_OFF, 4, [0] * n_strips)     # patched below
    ent(_SPP, 3, [spp])
    ent(_ROWS_PER_STRIP, 3, [min(rps, 65535)])
    ent(_STRIP_CNT, 4, [len(s) for s in strips])
    if predictor and not bilevel:
        ent(_PREDICTOR, 3, [2])
    entries.sort()
    ifd_size = 2 + 12 * len(entries) + 4
    pos = 8 + ifd_size                     # out-of-line area starts here
    inline: list[bytes] = []
    extra = bytearray()
    for tag, typ, cnt, body in entries:
        if len(body) <= 4:
            inline.append(body + b"\x00" * (4 - len(body)))
        else:
            inline.append(struct.pack("<I", pos + len(extra)))
            extra += body
    data_start = pos + len(extra)
    # patch strip offsets now that data_start is known
    strip_offs = []
    acc = data_start
    for s in strips:
        strip_offs.append(acc)
        acc += len(s)
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for (tag, typ, cnt, body), inl in zip(entries, inline):
        if tag == _STRIP_OFF:
            body = struct.pack("<" + "I" * n_strips, *strip_offs)
            if len(body) <= 4:
                inl = body + b"\x00" * (4 - len(body))
            else:
                # body lives in the extra area: patch it there
                (off,) = struct.unpack("<I", inl)
                extra[off - pos:off - pos + len(body)] = body
        out += struct.pack("<HHI", tag, typ, cnt) + inl
    out += struct.pack("<I", 0)            # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)
