"""Multimodal-column operators: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns; their formats are sniffed
by ``fixtures.sniff_format`` and images decode through
``fixtures.decode_payload``. Decode / feature-extract / resize /
frame-sample / scene-cut run as Arrow-vectorized ``mapInPandas`` stages.
TPAGE/TPBIT rasters, PNG, JPEG, GIF, BMP, TIFF, lossless WebP (ref/*.py)
and WAV audio (ops/audio.py) all decode for real; only COMPRESSED audio (mp3/aac) and real video codecs
remain explicit deterministic stubs (NotImplementedError) — no codec
library exists in this container — while the Spark-side plumbing
(schema, batching, partitioning) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, BooleanType, FloatType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

from tuatara_spark import fixtures as fx


META_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("format", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_bytes", IntegerType()),
    StructField("mean_luma", FloatType()),
])


def _webp_lossy_dims(buf: bytes) -> tuple[str, int, int] | None:
    """Dimensions of a lossy/extended WebP from its public headers —
    no pixel decode. One pass over the top-level RIFF chunks:

    * a VP8L chunk anywhere → None (the full clean-room VP8L decoder
      owns that file, including VP8L wrapped in a VP8X container);
    * else a "VP8 " chunk → RFC 6386 §9.1 uncompressed frame header:
      3-byte frame tag, keyframe start code 9d 01 2a, then 14-bit
      width and height in the low bits of two LE uint16s (the high
      2 bits are upscale hints, not size);
    * else a VP8X chunk → RFC 9649 §2.5 extended header: flags(1) +
      reserved(3) + 24-bit LE canvas_width−1 / canvas_height−1
      (covers animations/fragments where no single VP8 frame exists).

    Malformed chunks (truncated header, missing start code, no image
    chunk at all) raise ValueError → an ``error`` row, never a task
    failure."""
    chunks: dict[bytes, bytes] = {}
    off = 12
    while off + 8 <= len(buf):
        fourcc = buf[off:off + 4]
        size = int.from_bytes(buf[off + 4:off + 8], "little")
        if size > len(buf):
            raise ValueError("webp: implausible chunk size")
        chunks.setdefault(fourcc, buf[off + 8:off + 8 + size])
        off += 8 + size + (size & 1)   # chunks are 2-byte aligned
    if b"VP8L" in chunks:
        return None
    if b"VP8 " in chunks:
        p = chunks[b"VP8 "]
        if len(p) < 10 or p[3:6] != b"\x9d\x01\x2a":
            raise ValueError("vp8: missing keyframe start code")
        w = int.from_bytes(p[6:8], "little") & 0x3FFF
        h = int.from_bytes(p[8:10], "little") & 0x3FFF
        return ("webp-vp8", w, h)
    if b"VP8X" in chunks:
        p = chunks[b"VP8X"]
        if len(p) < 10:
            raise ValueError("vp8x: truncated extended header")
        w = int.from_bytes(p[4:7], "little") + 1
        h = int.from_bytes(p[7:10], "little") + 1
        return ("webp-vp8x", w, h)
    raise ValueError("webp: no image chunk")


def _decode_meta(buf: bytes) -> tuple[str, int | None, int | None, float | None]:
    fmt = fx.sniff_format(buf)
    if fmt == "webp":
        lossy = _webp_lossy_dims(buf)
        if lossy is not None:
            # lossy VP8 / extended VP8X: dimensions from the public
            # headers (RFC 6386 §9.1 / RFC 9649 §2.5) — the dominant
            # wild-WebP case. Pixel decode stays out of clean-room
            # scope, so mean_luma is None (metadata row, not a stub).
            return lossy + (None,)
    if fmt in ("wav", "riff", "tpgv", "pdf"):
        # audio, video and PDF have their own operators: a stub row here
        raise NotImplementedError(f"{fmt}: not an image payload")
    if fmt not in fx.DECODERS:
        return ("unknown", None, None, None)
    img = fx.decode_payload(buf)
    return (fmt, img.shape[1], img.shape[0],
            float(img.mean(dtype=np.float64)))


def extract_media_meta(df: DataFrame, col: str = "html",
                       key_col: str = "url") -> DataFrame:
    """Decode typed metadata from binary payloads (Arrow-batched
    mapInPandas). TPAGE/TPBIT/PNG/JPEG/GIF decode for real; audio/video/
    pdf route to their own operators (stub rows here); junk → error
    rows, never failed tasks."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "format": [], "width": [], "height": [],
                   "n_bytes": [], "mean_luma": []}
            for key, buf in zip(pdf[key_col], pdf[col]):
                buf = bytes(buf)
                try:
                    fmt, w, h, luma = _decode_meta(buf)
                except NotImplementedError:
                    fmt, w, h, luma = "stubbed", None, None, None
                except Exception:
                    # malformed payload: an error row, never a failed task
                    fmt, w, h, luma = "error", None, None, None
                out["url"].append(key)
                out["format"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(buf))
                out["mean_luma"].append(luma)
            yield pd.DataFrame(out)

    return df.select(key_col, col).mapInPandas(fn, META_SCHEMA)


def encode_tpgv(frames: list) -> bytes:
    """Synthetic video container: b'TPV1' + uint16 n_frames + concatenated
    TPAGE frames (deterministic; plays the role of an mp4 in this codec-free
    container — real video decode would be a stubbed branch like PNG)."""
    out = [fx.TPGV_MAGIC, len(frames).to_bytes(2, "little")]
    out += [fx.encode_tpage(f) for f in frames]
    return b"".join(out)


def _tpgv_frames(buf: bytes) -> Iterator[bytes]:
    """The TPAGE frame payloads of a TPGV container, in order; nothing for
    any other payload."""
    if buf[:4] != fx.TPGV_MAGIC:
        return
    off = 6
    for _ in range(int.from_bytes(buf[4:6], "little")):
        h = int.from_bytes(buf[off + 4:off + 6], "little")
        w = int.from_bytes(buf[off + 6:off + 8], "little")
        end = off + 8 + h * w * 3
        yield buf[off:end]
        off = end


FRAME_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame", BinaryType()),
    StructField("mean_luma", FloatType()),
])


def frame_sample(df: DataFrame, every_k: int = 2, col: str = "html",
                 key_col: str = "url") -> DataFrame:
    """Sample every k-th frame from TPGV video payloads (Arrow-batched
    mapInPandas; one output row per sampled frame). Non-TPGV payloads are
    skipped (stub path — no real video codec in this container)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, frames, lumas = [], [], [], []
            for key, buf in zip(pdf[key_col], pdf[col]):
                for i, payload in enumerate(_tpgv_frames(bytes(buf))):
                    if i % every_k == 0:
                        img = fx.decode_tpage(payload)
                        urls.append(key)
                        idxs.append(i)
                        frames.append(payload)
                        lumas.append(float(img.mean(dtype=np.float64)))
            yield pd.DataFrame({"url": urls, "frame_idx": idxs,
                                "frame": frames, "mean_luma": lumas})

    return df.select(key_col, col).mapInPandas(fn, FRAME_SCHEMA)


SCENE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("sad", LongType()),
    StructField("mean_diff_e4", LongType()),
    StructField("is_cut", BooleanType()),
])


def scene_changes(df: DataFrame, thr_e2: int = 2000, col: str = "html",
                  key_col: str = "url") -> DataFrame:
    """Scene-cut detection over TPGV video payloads: per-pixel sum of
    absolute luma differences (SAD) between consecutive frames, one row
    per frame transition. ALL integer arithmetic — ``sad`` is the exact
    uint8 SAD, ``mean_diff_e4 = sad·10^4 div n_px``, and the cut test is
    the cross-multiplied ``sad·100 ≥ thr_e2·n_px`` (thr_e2 = mean-luma
    threshold ×100) — so a first-principles oracle can reproduce every
    column. Arrow-batched mapInPandas; non-TPGV payloads are skipped."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, sads, means, cuts = [], [], [], [], []
            for key, buf in zip(pdf[key_col], pdf[col]):
                prev = None
                for i, payload in enumerate(_tpgv_frames(bytes(buf))):
                    img = fx.decode_tpage(payload).astype(np.int64)
                    if prev is not None:
                        sad = int(np.abs(img - prev).sum())
                        npx = img.size
                        urls.append(key)
                        idxs.append(i)
                        sads.append(sad)
                        means.append(sad * 10_000 // npx)
                        cuts.append(sad * 100 >= thr_e2 * npx)
                    prev = img
            yield pd.DataFrame({"url": urls, "frame_idx": idxs,
                                "sad": sads, "mean_diff_e4": means,
                                "is_cut": cuts})

    return df.select(key_col, col).mapInPandas(fn, SCENE_SCHEMA)


FEATURES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("ink_ratio", FloatType()),
    StructField("ink_x0", IntegerType()),
    StructField("ink_y0", IntegerType()),
    StructField("ink_x1", IntegerType()),
    StructField("ink_y1", IntegerType()),
    StructField("row_profile_peak", IntegerType()),
    StructField("col_profile_peak", IntegerType()),
])


def image_features(df: DataFrame, col: str = "html",
                   key_col: str = "url", ink_threshold: int = 128) -> DataFrame:
    """Decode → feature-extract (Arrow-batched mapInPandas): ink coverage
    ratio, the ink bounding box, and the densest row/column (profile
    argmax) — the cheap layout features a page-classification or
    quality-filter stage consumes. Works on any decodable payload
    (every image format of ``fixtures.decode_payloads``); undecodable
    rows are skipped (one error row per format is the meta op's job)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in FEATURES_SCHEMA.fields}
            imgs, _ = fx.decode_payloads(list(pdf[col]))
            for key, img in zip(pdf[key_col], imgs):
                if img is None:
                    continue
                gray = np.asarray(img[..., 0])
                ink = gray < ink_threshold
                n_ink = int(ink.sum())
                out["url"].append(key)
                out["ink_ratio"].append(n_ink / ink.size)
                if n_ink:
                    ys, xs = np.nonzero(ink)
                    out["ink_x0"].append(int(xs.min()))
                    out["ink_y0"].append(int(ys.min()))
                    out["ink_x1"].append(int(xs.max()))
                    out["ink_y1"].append(int(ys.max()))
                    out["row_profile_peak"].append(
                        int(ink.sum(axis=1).argmax()))
                    out["col_profile_peak"].append(
                        int(ink.sum(axis=0).argmax()))
                else:
                    for k in ("ink_x0", "ink_y0", "ink_x1", "ink_y1",
                              "row_profile_peak", "col_profile_peak"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return df.select(key_col, col).mapInPandas(fn, FEATURES_SCHEMA)


PDF_TEXT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("n_chars", IntegerType()),
    StructField("error", StringType()),
])


def extract_pdf_text_col(df: DataFrame, col: str = "html",
                         key_col: str = "url") -> DataFrame:
    """PDF text extraction (north_rule: 'PDF/layout parse') — Arrow-batched
    mapInPandas over the clean-room PDF text layer (ref/pdf.py: Flate
    content streams, BT/ET + Tj/TJ/' + Td/T* line moves). Malformed or
    unsupported-filter payloads become error rows, never failed tasks."""
    from tuatara_spark.ref import pdf as P

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            out = {"url": [], "text": [], "n_chars": [], "error": []}
            for key, buf in zip(pdf_[key_col], pdf_[col]):
                text, err = None, None
                try:
                    text = P.extract_pdf_text(buf)
                except Exception as e:
                    err = f"pdf: {e}"
                out["url"].append(key)
                out["text"].append(text)
                out["n_chars"].append(len(text) if text is not None else 0)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return df.select(key_col, col).mapInPandas(fn, PDF_TEXT_SCHEMA)


RESIZED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("thumb", BinaryType()),
    StructField("thumb_w", IntegerType()),
    StructField("thumb_h", IntegerType()),
])


def thumbnail(df: DataFrame, out_w: int = 32, out_h: int = 32,
              col: str = "html", key_col: str = "url",
              out_format: str = "raw") -> DataFrame:
    """Decode ANY supported image payload (``fixtures.decode_payloads``)
    + bilinear resize to a thumbnail — same resize kernel as the
    extraction pipeline. ``out_format``: 'raw'
    (H·W·3 bytes) or 'jpeg' (baseline q85 via ref/jpeg.py — the realistic
    wire format for a thumbnail column at 100 TB: ~30× smaller).
    Undecodable payloads are skipped (per-format error rows are the meta
    op's job)."""
    from tuatara_spark.ref import resize as rz
    if out_format not in ("raw", "jpeg"):
        raise ValueError("out_format must be 'raw' or 'jpeg'")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tuatara_spark.ref import jpeg as J
        for pdf in batches:
            urls, thumbs = [], []
            imgs, _ = fx.decode_payloads(list(pdf[col]))
            for key, img in zip(pdf[key_col], imgs):
                if img is None:
                    continue
                t = rz.resize_bilinear(img, out_w, out_h)
                thumbs.append(J.encode_jpeg(t, quality=85)
                              if out_format == "jpeg" else t.tobytes())
                urls.append(key)
            yield pd.DataFrame({"url": urls, "thumb": thumbs,
                                "thumb_w": out_w, "thumb_h": out_h})

    return df.select(key_col, col).mapInPandas(fn, RESIZED_SCHEMA)


def phash64(df: DataFrame, col: str = "html",
            key_col: str = "url") -> DataFrame:
    """64-bit perceptual hash (aHash: 8×8 block-mean threshold against
    the global mean — the classic average-hash from the public pHash
    family) over DECODED rasters: identical pixels ⇒ identical hash, and
    small overlays/noise flip few bits, so Hamming distance ranks visual
    similarity. Arrow-batched; undecodable payloads are skipped (the
    standard error-row-free projection for derived signatures). Returns
    (key, phash:long).

    Batched end-to-end: decode via ``fixtures.decode_payloads``, then the
    aHash vectorized per shape group. Block means are EXACT integer sums
    over the uint8 stack (one ``np.sum(dtype=int64)`` pass) divided once
    in float64 — a channel-averaged float64 image per row would cost 24
    bytes/pixel of transient memory per image and was measured to saturate
    memory bandwidth with 32 concurrent workers; the integer-sum form touches
    the uint8 bytes once and allocates only the (k,8,8) block table.
    Identical pixels ⇒ identical integer sums ⇒ identical hash (the
    property the dedup gate pins); the final 8 bytes per image are
    viewed as one big-endian int64 array."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs, _ = fx.decode_payloads(list(pdf[col]))
            groups: dict[tuple, list[int]] = {}
            for i, img in enumerate(imgs):
                if img is None or img.shape[0] < 8 or img.shape[1] < 8:
                    continue
                groups.setdefault(img.shape, []).append(i)
            keys, hashes = [], []
            kcol = pdf[key_col]
            for shape, idxs in groups.items():
                k = len(idxs)
                h8, w8 = shape[0] // 8, shape[1] // 8
                g = np.stack([imgs[i][:h8 * 8, :w8 * 8] for i in idxs])
                sums = (g.reshape(k, 8, h8, 8, w8, shape[2])
                        .sum(axis=(2, 4, 5), dtype=np.int64))
                blocks = sums / float(h8 * w8 * shape[2])
                bits = blocks > blocks.mean(axis=(1, 2), keepdims=True)
                packed = np.packbits(bits.reshape(k, 64), axis=1)
                vals = packed.view(">i8").ravel()
                keys.extend(kcol.iloc[i] for i in idxs)
                hashes.extend(int(v) for v in vals)
            yield pd.DataFrame({key_col: keys, "phash": hashes})

    return df.mapInPandas(fn, f"{key_col} string, phash long")


def phash_dup_pairs(df: DataFrame, col: str = "html",
                    key_col: str = "url", max_hamming: int = 3,
                    max_bucket: int | None = 50) -> DataFrame:
    """Image near-dup pairs: phash64 then the shared 16-bit-chunk banded
    Hamming join (ops/dedup.hamming_pairs64 — same candidate shape as
    simhash text dedup, so the scale properties carry over)."""
    from tuatara_spark.ops import dedup
    sigs = phash64(df, col=col, key_col=key_col)
    return dedup.hamming_pairs64(sigs, id_col=key_col, sig_col="phash",
                                 max_hamming=max_hamming,
                                 max_bucket=max_bucket)
