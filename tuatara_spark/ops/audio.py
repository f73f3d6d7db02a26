"""Audio-column operators: PCM WAV decode + metadata/feature extraction.

Clean-room RIFF/WAVE PCM parser from the public WAVE format spec
(Microsoft/IBM 1991 multimedia programming interface, RIFF chunk layout) —
pure struct + NumPy, no codec library. MP3 gets a frame-HEADER metadata
walk (ISO/IEC 11172-3 / 13818-3: version, layer, bitrate, sample rate,
channel mode, frame count, duration — no signal decode); other
compressed codecs (AAC/opus) remain explicit stubs (no codec library
exists in this container — ops/multimodal.py pattern).

Spark surface mirrors the image ops: payloads ride as ``binary`` columns,
decode + features run Arrow-batched in ``mapInPandas``, malformed payloads
become error rows, never failed tasks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (FloatType, IntegerType, LongType, StringType,
                               StructField, StructType)

from tuatara_spark import fixtures as fx


# sample encodings: (format tag, bits) → label. Tag 1 = integer PCM,
# tag 3 = IEEE float (public WAVE_FORMAT_IEEE_FLOAT extension, 1994);
# tag 0xFFFE = WAVE_FORMAT_EXTENSIBLE whose SubFormat GUID leads with the
# real tag.
_ENCODINGS = {(1, 8): "wav_pcm8", (1, 16): "wav_pcm16",
              (1, 24): "wav_pcm24", (3, 32): "wav_f32",
              (3, 64): "wav_f64"}


def encode_wav(samples: np.ndarray, rate: int = 16000,
               fmt: str = "pcm16", extensible: bool = False) -> bytes:
    """samples → RIFF/WAVE bytes (fixture-grade encoder; (n, ch) input
    interleaves channels). ``fmt``: pcm8 | pcm16 | pcm24 | f32 | f64 —
    integer input is taken in that encoding's NATIVE units (pcm8:
    −128..127 signed before the +128 offset; pcm24: ±2^23). ``extensible``
    wraps the format in a WAVE_FORMAT_EXTENSIBLE header (tag 0xFFFE +
    SubFormat GUID), the layout multichannel encoders emit."""
    s = np.asarray(samples)
    channels = 1 if s.ndim == 1 else s.shape[1]
    if fmt == "pcm8":
        data = (s.astype(np.int16) + 128).astype("<u1").tobytes()
        bits, tag = 8, 1
    elif fmt == "pcm16":
        data = s.astype("<i2").tobytes()
        bits, tag = 16, 1
    elif fmt == "pcm24":
        b4 = np.ascontiguousarray(s.astype("<i4")).view(np.uint8)
        data = b4.reshape(-1, 4)[:, :3].tobytes()   # low 3 LE bytes
        bits, tag = 24, 1
    elif fmt == "f32":
        data = s.astype("<f4").tobytes()
        bits, tag = 32, 3
    elif fmt == "f64":
        data = s.astype("<f8").tobytes()
        bits, tag = 64, 3
    else:
        raise ValueError(f"unknown WAV encoding {fmt!r}")
    block = channels * bits // 8
    if extensible:
        guid = struct.pack("<H", tag) + bytes.fromhex(
            "000000001000800000aa00389b71")  # KSDATAFORMAT_SUBTYPE_* base
        fmtc = struct.pack("<HHIIHHHHI", 0xFFFE, channels, rate,
                           rate * block, block, bits, 22, bits, 0) + guid
    else:
        fmtc = struct.pack("<HHIIHH", tag, channels, rate,
                           rate * block, block, bits)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Back-compat alias for the original PCM16-only encoder."""
    return encode_wav(samples, rate, "pcm16")


def decode_wav(buf) -> tuple[int, int, np.ndarray, str]:
    """RIFF/WAVE → (sample_rate, channels, (n, ch) samples, format label).
    Samples keep each encoding's NATIVE dtype/units: pcm8 → int16 in
    −128..127 (offset removed), pcm16 → int16, pcm24 → int32 (±2^23,
    sign-extended), f32/f64 → float. Unknown chunks are skipped
    (word-aligned, per the RIFF spec); EXTENSIBLE headers are unwrapped
    to their SubFormat."""
    data = memoryview(buf).cast("B")
    if bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = channels = bits = tag = None
    raw = None
    while pos + 8 <= len(data):
        cid = bytes(data[pos:pos + 4])
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + clen]
        if cid == b"fmt ":
            tag, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0)
            if tag == 0xFFFE:
                if clen < 26:
                    raise ValueError("WAVE: truncated EXTENSIBLE header")
                (tag,) = struct.unpack_from("<H", body, 24)  # GUID head
            if (tag, bits) not in _ENCODINGS:
                raise NotImplementedError(
                    f"WAVE format tag {tag}/{bits}-bit: not decodable "
                    "without a codec library")
        elif cid == b"data":
            raw = bytes(body)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or raw is None:
        raise ValueError("WAVE: missing fmt/data chunk")
    label = _ENCODINGS[(tag, bits)]
    if label == "wav_pcm8":
        pcm = np.frombuffer(raw, dtype="<u1").astype(np.int16) - 128
    elif label == "wav_pcm16":
        pcm = np.frombuffer(raw, dtype="<i2")
    elif label == "wav_pcm24":
        b = np.frombuffer(raw, dtype="<u1").reshape(-1, 3).astype(np.int32)
        x = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        pcm = (x ^ 0x800000) - 0x800000            # sign-extend 24→32
    elif label == "wav_f32":
        pcm = np.frombuffer(raw, dtype="<f4")
    else:
        pcm = np.frombuffer(raw, dtype="<f8")
    return int(rate), int(channels), pcm.reshape(-1, channels), label


# --------------------------------------------------------------- MP3 ------
# Frame-HEADER metadata walk from the public specs (ISO/IEC 11172-3 for
# MPEG-1, ISO/IEC 13818-3 for MPEG-2 LSF; "MPEG-2.5" is the de-facto
# half-rate extension signaled by version bits 00). No audio decode — the
# polyphase filterbank/Huffman layers stay stubbed (no codec library in
# this container) — but version/layer/bitrate/sample-rate/channel-mode,
# frame count and duration come straight from the 4-byte headers, which
# is what crawl-scale audio METADATA extraction needs. The header parse
# (``fixtures.mp3_header``) and its tables live next to the format sniffer,
# which uses them to tell an untagged MP3 from other 0xFF-led bytes.

def parse_mp3_meta(buf) -> dict:
    """Walk every frame header of an MP3 stream → metadata dict
    (version, layer, bitrate_kbps and channel info from the FIRST frame;
    n_frames / n_samples / duration_ms accumulated per frame so VBR
    streams are timed correctly). An ID3v2 tag is skipped via its
    syncsafe length; leading junk is tolerated up to a 4 KiB sync scan;
    a corrupt tail simply stops the walk (truncation-tolerant, like the
    WARC reader). Raises ValueError when no valid frame exists."""
    data = memoryview(buf).cast("B")
    pos = 0
    if bytes(data[:3]) == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
                | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
        pos = 10 + size
    # sync scan: first 0xFF Ex within 4 KiB of the start
    limit = min(len(data) - 4, pos + 4096)
    first = None
    while pos <= limit:
        first = fx.mp3_header(data[pos], data[pos + 1],
                              data[pos + 2], data[pos + 3])
        if first is not None:
            break
        pos += 1
    if first is None:
        raise ValueError("mp3: no frame sync found")
    version, layer, bitrate, rate, channels = first[:5]
    n_frames = n_samples = 0
    dur_us = 0
    while pos + 4 <= len(data):
        h = fx.mp3_header(data[pos], data[pos + 1],
                          data[pos + 2], data[pos + 3])
        if h is None:
            break
        _, _, _, h_rate, _, flen, spf = h
        if pos + flen > len(data):
            break                      # truncated final frame
        n_frames += 1
        n_samples += spf
        dur_us += spf * 1_000_000 // h_rate
        pos += flen
    return {"format": f"mp3v{version}L{layer}", "bitrate_kbps": bitrate,
            "sample_rate": rate, "n_channels": channels,
            "n_frames": n_frames, "n_samples": n_samples,
            "duration_ms": dur_us // 1000}


def encode_mp3_fixture(n_frames: int = 10, bitrate_kbps: int = 128,
                       rate: int = 44100, version: str = "1",
                       layer: int = 3, channels: int = 2,
                       id3_bytes: int = 0) -> bytes:
    """Fixture-grade CBR MP3 stream: valid frame headers + zeroed side
    info/payload (header-walk-parseable; not audible audio). Optionally
    prepends an ID3v2 tag of ``id3_bytes`` padding."""
    grp = "1" if version == "1" else "2"
    br_idx = fx.MP3_BITRATES[(grp, layer)].index(bitrate_kbps) + 1
    sr_idx = fx.MP3_RATES[version].index(rate)
    vbits = {v: k for k, v in fx.MP3_VERSIONS.items()}[version]
    lbits = {v: k for k, v in fx.MP3_LAYERS.items()}[layer]
    b1 = 0xE0 | (vbits << 3) | (lbits << 1) | 1       # no CRC
    b2 = (br_idx << 4) | (sr_idx << 2)                # no padding
    b3 = (0b11 if channels == 1 else 0b00) << 6
    hdr = bytes((0xFF, b1, b2, b3))
    if layer == 1:
        flen = (12 * bitrate_kbps * 1000 // rate) * 4
    else:
        spf = 576 if (layer == 3 and version != "1") else 1152
        flen = spf // 8 * bitrate_kbps * 1000 // rate
    frame = hdr + b"\x00" * (flen - 4)
    tag = b""
    if id3_bytes:
        sz = id3_bytes
        tag = (b"ID3\x03\x00\x00"
               + bytes(((sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                        (sz >> 7) & 0x7F, sz & 0x7F))
               + b"\x00" * sz)
    return tag + frame * n_frames


# ------------------------------------------------- FLAC / Ogg headers -----
# Metadata-only parses from the public specs: FLAC STREAMINFO (RFC 9639
# §8.2 — fLaC magic, 4-byte block headers, the 34-byte STREAMINFO bit
# layout), Ogg page framing (RFC 3533) with the Vorbis I identification
# header (Xiph Vorbis I spec §4.2.2) and OpusHead (RFC 7845 §5.1).
# Signal decode stays out of scope; headers carry everything a crawl
# metadata pass needs.

def parse_flac_meta(buf) -> dict:
    """fLaC STREAMINFO → sample_rate / channels / bits / total samples /
    duration. Raises ValueError on anything that is not a FLAC stream
    with a leading STREAMINFO block (the spec REQUIRES it first)."""
    data = memoryview(buf).cast("B")
    if bytes(data[:4]) != b"fLaC":
        raise ValueError("flac: bad magic")
    if len(data) < 8 + 34:
        raise ValueError("flac: truncated metadata")
    btype = data[4] & 0x7F
    blen = (data[5] << 16) | (data[6] << 8) | data[7]
    if btype != 0 or blen < 34:
        raise ValueError("flac: first block is not STREAMINFO")
    b = bytes(data[8:8 + 34])
    sample_rate = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
    channels = ((b[12] >> 1) & 0x7) + 1
    bits = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
    n_samples = (((b[13] & 0xF) << 32) | (b[14] << 24) | (b[15] << 16)
                 | (b[16] << 8) | b[17])
    if sample_rate == 0:
        raise ValueError("flac: zero sample rate")
    return {"format": "flac", "sample_rate": sample_rate,
            "n_channels": channels, "bits_per_sample": bits,
            "n_samples": n_samples,
            "duration_ms": n_samples * 1000 // sample_rate}


def parse_ogg_meta(buf) -> dict:
    """First Ogg page (RFC 3533) → codec identification: Vorbis I id
    header (audio channels + rate) or OpusHead (channel count + input
    sample rate; Opus always DECODES at 48 kHz — the header rate is the
    original input's). Raises ValueError otherwise."""
    data = memoryview(buf).cast("B")
    if bytes(data[:4]) != b"OggS" or len(data) < 28:
        raise ValueError("ogg: bad capture pattern")
    n_segs = data[26]
    body = 27 + n_segs
    if len(data) < body + 16:
        raise ValueError("ogg: truncated first page")
    seg = bytes(data[body:body + 19])
    if seg[:7] == b"\x01vorbis" and len(seg) >= 16:
        channels = seg[11]
        rate = int.from_bytes(seg[12:16], "little")
        if channels == 0 or rate == 0:
            raise ValueError("ogg: invalid vorbis id header")
        return {"format": "ogg_vorbis", "sample_rate": rate,
                "n_channels": channels}
    if seg[:8] == b"OpusHead" and len(seg) >= 19:
        channels = seg[9]
        rate = int.from_bytes(seg[12:16], "little")
        return {"format": "ogg_opus", "sample_rate": rate or 48000,
                "n_channels": channels}
    raise ValueError("ogg: unrecognized codec id header")


def encode_flac_fixture(sample_rate: int = 44100, channels: int = 2,
                        bits: int = 16, n_samples: int = 88200) -> bytes:
    """Fixture-grade FLAC header (STREAMINFO only, no frames)."""
    b = bytearray(34)
    b[10] = (sample_rate >> 12) & 0xFF
    b[11] = (sample_rate >> 4) & 0xFF
    b[12] = (((sample_rate & 0xF) << 4) | ((channels - 1) << 1)
             | ((bits - 1) >> 4))
    b[13] = (((bits - 1) & 0xF) << 4) | ((n_samples >> 32) & 0xF)
    b[14] = (n_samples >> 24) & 0xFF
    b[15] = (n_samples >> 16) & 0xFF
    b[16] = (n_samples >> 8) & 0xFF
    b[17] = n_samples & 0xFF
    return (b"fLaC" + bytes([0x80, 0, 0, 34]) + bytes(b))


def encode_ogg_fixture(codec: str = "vorbis", sample_rate: int = 48000,
                       channels: int = 2) -> bytes:
    """Fixture-grade first Ogg page wrapping a Vorbis/Opus id header."""
    if codec == "vorbis":
        seg = (b"\x01vorbis" + bytes(4) + bytes([channels])
               + sample_rate.to_bytes(4, "little") + bytes(14))
    else:
        seg = (b"OpusHead\x01" + bytes([channels]) + bytes(2)
               + sample_rate.to_bytes(4, "little") + bytes(3))
    head = (b"OggS" + bytes([0, 2]) + bytes(8) + bytes(4) + bytes(4)
            + bytes(4) + bytes([1, len(seg)]))
    return head + seg


# full-scale factor converting each encoding's native units into PCM16
# units, so rms/peak are comparable across encodings in a quality gate
_TO_PCM16 = {"wav_pcm8": 256.0, "wav_pcm16": 1.0, "wav_pcm24": 1 / 256.0,
             "wav_f32": 32767.0, "wav_f64": 32767.0}


AUDIO_META_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("format", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", LongType()),
    StructField("rms", FloatType()),
    StructField("peak", IntegerType()),
    StructField("error", StringType()),
])


# header-walk formats by ``fixtures.sniff_format`` name
_HEADER_PARSERS = {"mp3": parse_mp3_meta, "flac": parse_flac_meta,
                   "ogg": parse_ogg_meta}


def extract_audio_meta(df: DataFrame, col: str = "html",
                       key_col: str = "url") -> DataFrame:
    """Decode audio payloads → typed metadata + cheap signal features
    (RMS, absolute peak, both in PCM16 full-scale units regardless of the
    wire encoding so a quality gate can threshold uniformly) — PCM and
    IEEE-float WAV decode for real; MP3 yields real header-walk metadata
    (version/layer/bitrate/rate/channels/duration via
    :func:`parse_mp3_meta`) with NULL rms/peak (the signal itself stays
    undecoded); other compressed formats yield a 'stubbed' row."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in AUDIO_META_SCHEMA.fields}
            for key, buf in zip(pdf[key_col], pdf[col]):
                row = dict.fromkeys(out)
                row["url"] = key
                hdr_parser = (_HEADER_PARSERS.get(fx.sniff_format(buf))
                              if buf is not None else None)
                if hdr_parser is not None:
                    # header-walk formats: real metadata, NULL rms/peak
                    # (signal decode out of scope)
                    try:
                        m = hdr_parser(buf)
                        row.update({k: v for k, v in m.items()
                                    if k in row})
                    except Exception as e:
                        row.update(format="error", error=f"decode: {e}")
                    for k, v in row.items():
                        out[k].append(v)
                    continue
                try:
                    rate, ch, pcm, label = decode_wav(buf)
                    n = pcm.shape[0]
                    eq = pcm.astype(np.float64) * _TO_PCM16[label]
                    row.update(
                        format=label, sample_rate=rate, n_channels=ch,
                        n_samples=n,
                        duration_ms=(n * 1000) // rate if rate else 0,
                        rms=float(np.sqrt((eq ** 2).mean())) if n else 0.0,
                        peak=int(round(np.abs(eq).max())) if n else 0)
                except NotImplementedError as e:
                    row.update(format="stubbed", error=str(e))
                except Exception as e:
                    row.update(format="error", error=f"decode: {e}")
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select(key_col, col).mapInPandas(fn, AUDIO_META_SCHEMA)
