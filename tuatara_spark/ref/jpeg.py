"""Baseline JPEG codec — pure NumPy + stdlib, clean-room from the public
ITU-T T.81 (1992) spec and the JFIF 1.02 note. No libjpeg, no PIL (the
sandbox has no image codec library — SURVEY.md §0.3); this un-stubs the
highest-frequency real-ingest gap the way ref/png.py un-stubbed PNG in
round 2.

Scope (exactly what Common-Crawl-style ingest needs):
  decode: baseline sequential DCT (SOF0) AND progressive DCT (SOF2,
          spectral selection + successive approximation per T.81 Annex
          G), 8-bit, 1 or 3 components, 4:4:4 / 4:2:2 / 4:2:0
          subsampling, 8- and 16-bit quantization tables, restart
          intervals, APPn/COM skip, 0xFF00 byte-stuffing. All scans
          accumulate into per-component coefficient arrays; dequant +
          IDCT run ONCE at EOI as a single vectorized einsum per
          component (also the fast path for baseline).
  encode: baseline or progressive 4:4:4/4:2:0 with the T.81 Annex K
          example quantization and Huffman tables (enough to build
          deterministic test fixtures and thumbnails; not an optimizing
          encoder). The progressive scan script exercises DC+AC first
          and refinement scans at two successive-approximation levels.

Decoder upsampling is nearest-neighbor (pixel replication) — T.81 leaves
upsampling filter choice to the decoder; round trips are self-consistent.

Reference parity note: the reference engine ingests pre-decoded rasters
via stb/OpenCV (tuatara.cpp:333-352 reads images already in memory); this
module supplies the equivalent public-format ingest for the Spark engine.
"""

from __future__ import annotations

import struct

import numpy as np

from tuatara_spark.ref.guard import check_dims

# ---------------------------------------------------------------------------
# Shared tables (ITU-T T.81 Annex K — published example tables)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int32)

# K.1 luminance / K.2 chrominance quantization tables (natural order via
# zigzag below; stored here in the spec's zigzag order)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.int32).reshape(8, 8)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.int32).reshape(8, 8)

# K.3–K.6 example Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
HT_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
HT_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """8-point DCT-II basis C with C @ x giving the orthonormal transform
    (A.3.3 of T.81 defines FDCT/IDCT; the orthonormal matrix form is the
    standard factorization)."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0] *= 1 / np.sqrt(2.0)
    return c


_DCT = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]):
    """(code, length) per symbol in canonical (T.81 C.2) order."""
    codes = []
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes.append((vals[i], ln, code))
            i += 1
            code += 1
        code <<= 1
    return codes


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 stuffing
    removal and restart-marker awareness (F.2.2.5)."""

    def __init__(self, data: memoryview, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            b = 0  # zero-pad at any marker / past end (F.2.2.5)
            if self.pos < len(self.data):
                b0 = self.data[self.pos]
                if b0 != 0xFF:
                    self.pos += 1
                    b = b0
                else:
                    nxt = (self.data[self.pos + 1]
                           if self.pos + 1 < len(self.data) else 0xD9)
                    if nxt == 0x00:   # stuffed 0xFF data byte
                        self.pos += 2
                        b = 0xFF
                    # else: marker (RSTn/EOI/...) — do NOT advance; pad
            self.bitbuf = ((self.bitbuf << 8) | b) & 0xFFFFFFFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Byte-align and consume one RSTn marker (F.2.1.3.1)."""
        self.bitbuf = 0
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and \
                    0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("jpeg: expected restart marker")


def _extend(v: int, t: int) -> int:
    """F.2.2.1 EXTEND: map the t-bit magnitude code to a signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


class _HuffDecoder:
    """Canonical Huffman decoder with a per-length (min, max, first-index)
    table (F.2.2.3 DECODE procedure)."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        i = 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = i
                self.mincode[ln] = code
                code += bits[ln - 1]
                i += bits[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = br.read_bit()
        ln = 1
        while code > self.maxcode[ln]:
            ln += 1
            if ln > 16:
                raise ValueError("jpeg: invalid huffman code")
            code = (code << 1) | br.read_bit()
        return self.vals[self.valptr[ln] + code - self.mincode[ln]]


def decode_jpeg(buf) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JPEG → (H, W, 3) uint8 RGB
    (grayscale replicated). Every scan accumulates quantized coefficients
    (zigzag order) into per-component arrays; dequant + IDCT happen once
    at the end, vectorized."""
    # cast('B'): Arrow buffers expose a SIGNED char memoryview — indexing
    # would yield -1 for 0xFF and break every marker comparison
    data = memoryview(buf).cast("B")
    if bytes(data[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    coefs: list[np.ndarray] | None = None   # per comp: (bh, bw, 64) zigzag
    n_scans = 0

    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT (Pq=0: 8-bit, Pq=1: 16-bit entries)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                tbl = np.zeros(64, dtype=np.int32)
                if pq == 0:
                    tbl[ZIGZAG] = np.frombuffer(seg[sp + 1:sp + 65],
                                                np.uint8)
                    sp += 65
                else:
                    tbl[ZIGZAG] = np.frombuffer(seg[sp + 1:sp + 129],
                                                ">u2").astype(np.int32)
                    sp += 129
                qt[tq] = tbl.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            check_dims(w, h, "jpeg")
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 1 + 5 + c * 3)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: only baseline/extended sequential and "
                             "progressive DCT (SOF0/1/2) supported")
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1:sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17:sp + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffDecoder(bits,
                                                                     vals)
                sp += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS → entropy-coded data follows
            if not comps:
                raise ValueError("jpeg: SOS before SOF")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            if coefs is None:
                coefs = [np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                                  dtype=np.int32) for c in comps]
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, td_ta = seg[1 + c * 2], seg[2 + c * 2]
                ci = next(i for i, x in enumerate(comps) if x["id"] == cs)
                scan.append((ci, td_ta >> 4, td_ta & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _entropy_scan(
                data, pos + seglen, comps, coefs, scan, huff_dc, huff_ac,
                ss, se, ah, al, restart_interval, h, w, hmax, vmax,
                mcux, mcuy, progressive)
            n_scans += 1
            continue
        pos += seglen
    if coefs is None or not n_scans:
        raise ValueError("jpeg: no scan data")
    return _reconstruct(comps, coefs, qt, h, w)


def _next_marker(data, pos: int) -> int:
    """Skip past any residual entropy bytes to the next real marker
    (not a stuffed 0xFF00, not RSTn)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and \
                not (0xD0 <= data[pos + 1] <= 0xD7):
            return pos
        pos += 1
    return len(data)


def _entropy_scan(data, pos, comps, coefs, scan, huff_dc, huff_ac,
                  ss, se, ah, al, restart_interval, h, w, hmax, vmax,
                  mcux, mcuy, progressive) -> int:
    """Decode ONE entropy-coded scan into the coefficient arrays and
    return the position of the next marker. Handles all four progressive
    scan kinds (T.81 G.1.2) plus full baseline scans; non-interleaved
    scans walk the component's own ceil-dim block grid."""
    br = _BitReader(data, pos)
    pred = [0] * len(comps)
    eobrun = 0
    p1 = 1 << al

    def decode_dc_first(ci, td, blk):
        nonlocal pred
        t = huff_dc[td].decode(br)
        diff = _extend(br.receive(t), t) if t else 0
        pred[ci] += diff
        blk[0] = pred[ci] << al

    def decode_dc_refine(blk):
        if br.read_bit():
            blk[0] |= p1

    def decode_block_full(ci, td, ta, blk):
        nonlocal pred
        t = huff_dc[td].decode(br)
        diff = _extend(br.receive(t), t) if t else 0
        pred[ci] += diff
        blk[0] = pred[ci]
        k = 1
        while k < 64:
            rs = huff_ac[ta].decode(br)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("jpeg: AC index overflow")
            blk[k] = _extend(br.receive(s), s)
            k += 1

    def decode_ac_first(ta, blk):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = huff_ac[ta].decode(br)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:                     # EOBn: run of 2^r + ext
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.receive(r)
                    break
                k += 16                        # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("jpeg: AC index overflow")
            blk[k] = _extend(br.receive(s), s) << al
            k += 1

    def decode_ac_refine(ta, blk):
        # G.1.2.3: interleave newly-nonzero coefficients with correction
        # bits for already-nonzero ones; EOB region still carries
        # correction bits for every nonzero coefficient.
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = huff_ac[ta].decode(br)
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r)
                        if r:
                            eobrun += br.receive(r)
                        break                   # EOB region handled below
                else:
                    val = p1 if br.read_bit() else -p1
                while k <= se:
                    if blk[k] != 0:
                        if br.read_bit() and not (blk[k] & p1):
                            blk[k] += p1 if blk[k] > 0 else -p1
                    else:
                        if r == 0:
                            if s:
                                blk[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    if br.read_bit() and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] > 0 else -p1
                k += 1
            eobrun -= 1

    def restart():
        nonlocal pred, eobrun
        br.align_restart()
        pred = [0] * len(comps)
        eobrun = 0

    n_unit = 0
    if len(scan) > 1:
        # interleaved MCU order (multi-component scans: full baseline
        # scans and progressive DC scans)
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and n_unit and \
                        n_unit % restart_interval == 0:
                    restart()
                n_unit += 1
                for ci, td, ta in scan:
                    comp = comps[ci]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            blk = coefs[ci][my * comp["v"] + by,
                                            mx * comp["h"] + bx]
                            if not progressive:
                                decode_block_full(ci, td, ta, blk)
                            elif ss == 0 and ah == 0:
                                decode_dc_first(ci, td, blk)
                            else:
                                decode_dc_refine(blk)
    else:
        # single-component scans are ALWAYS non-interleaved (T.81 A.2):
        # MCU = one data unit over the component's own ceil-dim grid
        (ci, td, ta) = scan[0]
        comp = comps[ci]
        ubw = (-(-(w * comp["h"]) // hmax) + 7) // 8
        ubh = (-(-(h * comp["v"]) // vmax) + 7) // 8
        for by in range(ubh):
            for bx in range(ubw):
                if restart_interval and n_unit and \
                        n_unit % restart_interval == 0:
                    restart()
                n_unit += 1
                blk = coefs[ci][by, bx]
                if not progressive:
                    decode_block_full(ci, td, ta, blk)
                elif ss == 0:
                    if ah == 0:
                        decode_dc_first(ci, td, blk)
                    else:
                        decode_dc_refine(blk)
                elif ah == 0:
                    decode_ac_first(ta, blk)
                else:
                    decode_ac_refine(ta, blk)
    return _next_marker(data, br.pos)


def _reconstruct(comps, coefs, qt, h, w) -> np.ndarray:
    """Dequantize + IDCT every component in one vectorized shot, then
    upsample (nearest), crop, level-shift, color-convert."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = []
    for comp, zz in zip(comps, coefs):
        bh, bw = zz.shape[:2]
        nat = np.zeros_like(zz, dtype=np.float64)
        nat[..., ZIGZAG] = zz
        blocks = nat.reshape(bh, bw, 8, 8) * qt[comp["tq"]]
        px = np.einsum("ji,xyjk,kl->xyil", _DCT, blocks, _DCT)
        plane = px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        out.append(plane[:h, :w] + 128.0)

    if len(out) == 1:
        g = np.clip(np.rint(out[0]), 0, 255).astype(np.uint8)
        return np.broadcast_to(g[:, :, None], g.shape + (3,))
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (baseline 4:4:4, Annex K tables — fixture/thumbnail grade)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s (F.1.2.3)


def _quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """IJG-style linear quality scaling of a base table (public formula)."""
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    t = np.clip((qt * s + 50) // 100, 1, 255)
    return t.astype(np.int32)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _box2(p: np.ndarray) -> np.ndarray:
    """2×2 box-mean downsample (edge-replicated to even dims first)."""
    if p.shape[0] % 2:
        p = np.concatenate([p, p[-1:, :]], axis=0)
    if p.shape[1] % 2:
        p = np.concatenate([p, p[:, -1:]], axis=1)
    return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2]
            + p[1::2, 1::2]) / 4.0


def encode_jpeg(img: np.ndarray, quality: int = 90,
                restart_interval: int = 0,
                subsampling: str = "444",
                progressive: bool = False) -> bytes:
    """(H, W, 3) or (H, W) uint8 → baseline or progressive JFIF bytes.
    ``subsampling``: "444" (default) or "420" (2×2 box-mean chroma).
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs (also
    exercises the decoder's F.2.1.3.1 restart path). ``progressive``
    emits SOF2 with a multi-scan script (DC first/refine + per-component
    AC spectral bands at two successive-approximation levels) encoding
    the SAME quantized coefficients — progressive decode must therefore
    reproduce the baseline decode bit-for-bit."""
    img = np.asarray(img)
    gray = img.ndim == 2
    if gray:
        img = img[:, :, None]
    h, w = img.shape[:2]
    if img.shape[2] == 3:
        rgbf = img.astype(np.float64)
        y = (0.299 * rgbf[..., 0] + 0.587 * rgbf[..., 1]
             + 0.114 * rgbf[..., 2])
        cb = -0.168736 * rgbf[..., 0] - 0.331264 * rgbf[..., 1] \
            + 0.5 * rgbf[..., 2] + 128.0
        cr = 0.5 * rgbf[..., 0] - 0.418688 * rgbf[..., 1] \
            - 0.081312 * rgbf[..., 2] + 128.0
        chans = [y, cb, cr]
    else:
        chans = [img[..., 0].astype(np.float64)]
    n_comp = len(chans)
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if subsampling == "420" and n_comp == 3:
        samp = [(2, 2), (1, 1), (1, 1)]
        chans = [chans[0], _box2(chans[1]), _box2(chans[2])]
    else:
        samp = [(1, 1)] * n_comp

    qts = [_quality_scale(QT_LUMA, quality)]
    if n_comp == 3:
        qts.append(_quality_scale(QT_CHROMA, quality))

    enc_dc = [dict((v, (c, ln)) for v, ln, c in
                   _canonical_codes(*HT_DC_LUMA))]
    enc_ac = [dict((v, (c, ln)) for v, ln, c in
                   _canonical_codes(*HT_AC_LUMA))]
    if n_comp == 3:
        enc_dc.append(dict((v, (c, ln)) for v, ln, c in
                           _canonical_codes(*HT_DC_CHROMA)))
        enc_ac.append(dict((v, (c, ln)) for v, ln, c in
                           _canonical_codes(*HT_AC_CHROMA)))

    bw = _BitWriter()
    pred = [0] * n_comp
    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # per channel: pad plane to its MCU-aligned block grid, then all DCTs
    # vectorized up front as a (grid_by, grid_bx, 8, 8) array
    dcts = []
    grids = []
    for ci, ch in enumerate(chans):
        hs, vs = samp[ci]
        gby, gbx = mcuy * vs, mcux * hs
        ph, pw = ch.shape
        p = np.empty((gby * 8, gbx * 8), dtype=np.float64)
        p[:ph, :pw] = ch
        p[ph:, :pw] = ch[ph - 1:ph, :]   # edge replicate
        p[:, pw:] = p[:, pw - 1:pw]
        p -= 128.0
        blocks = (p.reshape(gby, 8, gbx, 8).transpose(0, 2, 1, 3))
        d = np.einsum("ij,ryjk,lk->ryil", _DCT, blocks, _DCT)
        q = qts[min(ci, len(qts) - 1)]
        dcts.append(np.rint(d / q).astype(np.int64))
        grids.append((gby, gbx))

    def emit_block(zz: np.ndarray, ci: int) -> None:
        tbl_i = min(ci, 1)
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t = _category(diff)
        code, ln = enc_dc[tbl_i][t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = int(np.max(np.nonzero(zz)[0])) if zz.any() else 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                if k > last_nz:
                    code, ln = enc_ac[tbl_i][0x00]   # EOB
                    bw.write(code, ln)
                    break
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[tbl_i][0xF0]       # ZRL
                bw.write(code, ln)
                run -= 16
            s = _category(v)
            code, ln = enc_ac[tbl_i][(run << 4) | s]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def sos_seg(comps_in_scan: list[int], ss: int, se: int, ah: int,
                al: int) -> bytes:
        sos = bytes([len(comps_in_scan)])
        for c in comps_in_scan:
            sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
        return seg(0xDA, sos + bytes([ss, se, (ah << 4) | al]))

    if progressive:
        scans_out = _progressive_scans(
            dcts, grids, samp, n_comp, h, w, mcux, mcuy,
            enc_dc, enc_ac, restart_interval, sos_seg)
    else:
        n_rst = 0
        n_mcu = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and n_mcu and \
                        n_mcu % restart_interval == 0:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + (n_rst & 7)])
                    n_rst += 1
                    pred = [0] * n_comp
                n_mcu += 1
                for ci in range(n_comp):
                    hs, vs = samp[ci]
                    for by_ in range(vs):
                        for bx_ in range(hs):
                            blk = dcts[ci][my * vs + by_, mx * hs + bx_]
                            emit_block(blk.reshape(-1)[ZIGZAG], ci)
        bw.flush()
        scans_out = sos_seg(list(range(n_comp)), 0, 63, 0, 0) + bytes(bw.out)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    for i, q in enumerate(qts):
        zz = np.empty(64, dtype=np.uint8)
        zz[:] = q.reshape(-1)[ZIGZAG]
        out += seg(0xDB, bytes([i]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for c in range(n_comp):
        hs, vs = samp[c]
        sof += struct.pack(">BBB", c + 1, (hs << 4) | vs, min(c, 1))
    out += seg(0xC2 if progressive else 0xC0, sof)
    hts = [(0x00, HT_DC_LUMA), (0x10, HT_AC_LUMA)]
    if n_comp == 3:
        hts += [(0x01, HT_DC_CHROMA), (0x11, HT_AC_CHROMA)]
    for tid, (bits, vals) in hts:
        out += seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += scans_out
    out += b"\xff\xd9"
    return bytes(out)


def _progressive_scans(dcts, grids, samp, n_comp, h, w, mcux, mcuy,
                       enc_dc, enc_ac, restart_interval, sos_seg) -> bytes:
    """Emit the progressive scan script over the already-quantized
    coefficient grids: interleaved DC first (Al=1) + refine, then
    per-component AC spectral bands at two successive-approximation
    levels, first scans followed by refinement scans (T.81 Annex G
    encoder side). Encodes the exact coefficients the baseline path
    encodes, so decode is bit-identical to baseline decode.

    EOB runs are capped at 1 (plain EOB): the Annex K tables carry no
    EOBn>0 symbols, and cap-1 is spec-valid — the decoder still accepts
    general EOBn from other encoders."""
    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    # zigzag-order coefficient grids + per-component used (ceil) dims
    zzs = []
    ubs = []
    for ci in range(n_comp):
        gby, gbx = grids[ci]
        zzs.append(dcts[ci].reshape(gby, gbx, 64)[..., ZIGZAG])
        hs, vs = samp[ci]
        ubs.append(((-(-(h * vs) // vmax) + 7) // 8,
                    (-(-(w * hs) // hmax) + 7) // 8))

    out = bytearray()

    def run_scan(comps_in_scan, ss, se, ah, al, body) -> None:
        bw = _BitWriter()
        st = {"pred": [0] * n_comp, "n_rst": 0, "n_unit": 0}

        def maybe_restart():
            if restart_interval and st["n_unit"] and \
                    st["n_unit"] % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (st["n_rst"] & 7)])
                st["n_rst"] += 1
                st["pred"] = [0] * n_comp
            st["n_unit"] += 1

        if len(comps_in_scan) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    maybe_restart()
                    for ci in comps_in_scan:
                        hs, vs = samp[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                body(bw, st, ci,
                                     zzs[ci][my * vs + by, mx * hs + bx])
        else:
            ci = comps_in_scan[0]
            ubh, ubw = ubs[ci]
            for by in range(ubh):
                for bx in range(ubw):
                    maybe_restart()
                    body(bw, st, ci, zzs[ci][by, bx])
        bw.flush()
        out.extend(sos_seg(comps_in_scan, ss, se, ah, al))
        out.extend(bw.out)

    def dc_first(al):
        def body(bw, st, ci, zz):
            ti = min(ci, 1)
            v = int(zz[0]) >> al                 # DC point transform
            diff = v - st["pred"][ci]
            st["pred"][ci] = v
            t = _category(diff)
            code, ln = enc_dc[ti][t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        return body

    def dc_refine(al):
        def body(bw, st, ci, zz):
            bw.write((int(zz[0]) >> al) & 1, 1)
        return body

    def ac_first(ss, se, al):
        def body(bw, st, ci, zz):
            ti = min(ci, 1)
            r = 0
            for k in range(ss, se + 1):
                v = int(zz[k])
                tv = (v >> al) if v >= 0 else -((-v) >> al)  # trunc to 0
                if tv == 0:
                    r += 1
                    continue
                while r > 15:
                    code, ln = enc_ac[ti][0xF0]
                    bw.write(code, ln)
                    r -= 16
                s = _category(tv)
                code, ln = enc_ac[ti][(r << 4) | s]
                bw.write(code, ln)
                bw.write(tv if tv >= 0 else tv + (1 << s) - 1, s)
                r = 0
            if r:
                code, ln = enc_ac[ti][0x00]      # EOB (run capped at 1)
                bw.write(code, ln)
        return body

    def ac_refine(ss, se, al):
        def body(bw, st, ci, zz):
            ti = min(ci, 1)
            tvs = [(-int(v) >> al if v < 0 else int(v) >> al)
                   for v in zz[ss:se + 1]]       # |coef| at this level
            eob = -1                             # last NEWLY-nonzero pos
            for i, tv in enumerate(tvs):
                if tv == 1:
                    eob = i
            r = 0
            br_bits: list[int] = []
            for i, tv in enumerate(tvs):
                if tv == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    code, ln = enc_ac[ti][0xF0]
                    bw.write(code, ln)
                    for b in br_bits:
                        bw.write(b, 1)
                    br_bits = []
                    r -= 16
                if tv > 1:                       # history: correction bit
                    br_bits.append(tv & 1)
                    continue
                code, ln = enc_ac[ti][(r << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if int(zz[ss + i]) > 0 else 0, 1)  # sign
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
                r = 0
            if r or br_bits:
                code, ln = enc_ac[ti][0x00]      # EOB covering the tail
                bw.write(code, ln)
                for b in br_bits:
                    bw.write(b, 1)
        return body

    allc = list(range(n_comp))
    run_scan(allc, 0, 0, 0, 1, dc_first(1))
    run_scan([0], 1, 5, 0, 2, ac_first(1, 5, 2))
    for ci in range(1, n_comp):
        run_scan([ci], 1, 63, 0, 1, ac_first(1, 63, 1))
    run_scan([0], 6, 63, 0, 2, ac_first(6, 63, 2))
    run_scan([0], 1, 63, 2, 1, ac_refine(1, 63, 1))
    run_scan(allc, 0, 0, 1, 0, dc_refine(0))
    run_scan([0], 1, 63, 1, 0, ac_refine(1, 63, 0))
    for ci in range(1, n_comp):
        run_scan([ci], 1, 63, 1, 0, ac_refine(1, 63, 0))
    return bytes(out)
