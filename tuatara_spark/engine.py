"""Spark execution engine: the extraction pipeline as a vectorized Arrow UDF.

The reference engine is one C-level function per image
(tuatara.h:13 ``image_to_data``); here the whole pipeline runs inside
``DataFrame.mapInArrow`` over Arrow record batches — no per-row Python in
the hot path (input_hint requirement). Each batch goes through two shared
steps, the only implementation of each:

* ``fixtures.decode_payloads`` — payload bytes → pages, one
  ``fixtures.decode_payload`` per row (a bad row becomes an error row);
* ``ocr_batch`` — the batch kernel: shape-grouped detection as stacked
  tensors — the forward pass (one-plane pages through a 256-entry ink
  table) and then the box geometry of every component of the group
  (CCL, segmap row extremes, dilation, hulls, calipers) in array
  operations, no Python loop per component — then ALL region crops of
  the batch through recognition as a single matmul (strictly more
  vectorized than the reference's chunk-of-4 + 6-thread pool,
  tuatara.cpp:450-475, which Spark task parallelism replaces), then
  reading-order assembly. The declared OCR queries
  (``queries.q_ocr_extract_docs``) run the same kernel over rendered
  pages; ``ref/pipeline.extract_page`` is its per-page oracle.

Model weights are broadcast once per job and rehydrated once per worker
(``Broadcast.value`` caches) — fixing the reference's per-call weight
reload (tuatara.cpp:333-340, 421-432). ``extract_df`` broadcasts a weights
dict itself, or takes a ``Broadcast`` its caller owns: ``job.run_extract``
broadcasts once for all its groups and destroys it when the job ends.

Given a ``BucketCounters`` accumulator, the UDF also adds up each output
batch's per-bucket lineage counters (``COUNTERS``) with an Arrow
group-by, so ``job.run_extract`` commits them without reading the
written rows back.

Batch sizing: one 256² TPAGE row ≈ 196 KB; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` ≈ 64 so a batch stays
~12 MB (see session.get_spark).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import AccumulatorParam, Broadcast
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, FloatType, IntegerType, StringType,
                               StructField, StructType)

from tuatara_spark import fixtures as fx
from tuatara_spark import weights as wt
from tuatara_spark.ref import geometry as g
from tuatara_spark.ref import pipeline as pl

SPANS_TYPE = ArrayType(StructType([
    StructField("text", StringType()),
    StructField("bbox", ArrayType(FloatType())),
]))

EXTRA_FIELDS = [
    StructField("spans", SPANS_TYPE),
    StructField("text", StringType()),
    StructField("n_regions", IntegerType()),
    StructField("n_chars", IntegerType()),
    StructField("error", StringType()),
]

_SPANS_ARROW = pa.list_(pa.struct([("text", pa.string()),
                                   ("bbox", pa.list_(pa.float32()))]))


CONSUMED_COLS = ("html", "text")  # html is the payload; a raw-text metadata
#   column (input_hint schema) would collide with the extracted `text`


def output_schema(input_schema: StructType) -> StructType:
    """Pass through every input column except the consumed ones, then the
    extraction columns."""
    passthrough = [f for f in input_schema.fields
                   if f.name not in CONSUMED_COLS]
    return StructType(passthrough + EXTRA_FIELDS)


def ocr_batch(params: dict, images: list, errors: list) -> list:
    """The batch kernel: decoded pages → one ``{'spans', 'text'}`` dict per
    page (``ref/pipeline.extract_page``'s output, byte-identical), or None
    where ``errors[i]`` is already set or detection fails here.

    Detection runs shape-grouped (one stacked forward and one geometry
    pass per page shape); if the batch path throws (pathological page)
    it falls back to per-page
    detection, so one bad row gets ``errors[i] = "detect: …"`` instead of
    failing the task — at 10^12 rows a poison page must not kill the job.
    Recognition then runs over ALL crops of the batch in one forward pass.
    """
    ok = [i for i, e in enumerate(errors) if e is None]
    try:
        det = pl.detect_pages([images[i] for i in ok], params) if ok else []
    except Exception:
        det = []
        for i in ok:
            try:
                det.append(pl.detect_page(images[i], params))
            except Exception as e:
                errors[i] = f"detect: {e}"
                det.append(None)
    pages = [(i, d) for i, d in zip(ok, det) if d is not None]
    crops = [pl.crop_regions(swapped, boxes) for _, (boxes, swapped) in pages]
    texts = iter(pl.recognize_ink(
        params, pl.crops_to_ink([c for cs in crops for c in cs], params)))
    out: list = [None] * len(images)
    for i, (boxes, _) in pages:
        spans = [{"text": next(texts),
                  "bbox": g.rect_to_tesseract_bbox(b).tolist()}
                 for b in boxes]
        out[i] = {"spans": spans, "text": pl.assemble_reading_order(spans)}
    return out


# Per-bucket lineage counters of the OCR job, in manifest order, and the
# Arrow aggregate over one record batch that computes each: the same
# semantics as SQL count(*), sum(n_regions), sum(n_chars), count(error).
COUNTERS = ("pages", "regions", "chars", "failures")
_COUNTER_AGGS = [("part_id", "count", pc.CountOptions(mode="all")),
                 ("n_regions", "sum"),
                 ("n_chars", "sum"), ("error", "count")]


class BucketCounters(AccumulatorParam):
    """Accumulator of ``{bucket: {counter: int}}``: merging adds the
    counters of each bucket."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        for bucket, counts in value2.items():
            into = value1.setdefault(bucket, dict.fromkeys(counts, 0))
            for k, v in counts.items():
                into[k] += v
        return value1


def _batch_counters(batch: pa.RecordBatch) -> dict:
    """``{part_id: {counter: int}}`` of one output batch, summed by an
    Arrow group-by (no Python loop over rows)."""
    agg = (pa.Table.from_batches([batch])
           .group_by("part_id", use_threads=False).aggregate(_COUNTER_AGGS))
    cols = [agg.column(f"{c}_{fn}").to_pylist()
            for c, fn, *_ in _COUNTER_AGGS]
    return {b: dict(zip(COUNTERS, vals))
            for b, *vals in zip(agg.column("part_id").to_pylist(), *cols)}


def make_extractor(weights_bc, passthrough: list[str], counters=None):
    """Build the mapInArrow function over the weights Broadcast
    ``weights_bc``. With ``counters`` (an accumulator of
    ``BucketCounters``; needs a ``part_id`` passthrough column) each
    output batch also adds its per-bucket counters to it."""

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        params = None
        for batch in batches:
            if params is None:
                params = weights_bc.value
            # payload bytes are zero-copy Arrow buffer views (None if null)
            images, errors = fx.decode_payloads(
                [sc.as_buffer() for sc in batch.column("html")])
            pages = ocr_batch(params, images, errors)
            arrays = [batch.column(name) for name in passthrough]
            arrays += [
                pa.array([p and p["spans"] for p in pages],
                         type=_SPANS_ARROW),
                pa.array([p and p["text"] for p in pages], type=pa.string()),
                pa.array([len(p["spans"]) if p else 0 for p in pages],
                         type=pa.int32()),
                pa.array([len(p["text"]) if p else 0 for p in pages],
                         type=pa.int32()),
                pa.array(errors, type=pa.string()),
            ]
            names = passthrough + ["spans", "text", "n_regions", "n_chars",
                                   "error"]
            out = pa.RecordBatch.from_arrays(arrays, names=names)
            if counters is not None:
                counters.add(_batch_counters(out))
            yield out

    return extract


def extract_df(df: DataFrame, weights: dict | Broadcast | None = None,
               seed: int = 42, counters=None) -> DataFrame:
    """pages DataFrame (url, warc_ts, html, lang, [extra cols]) →
    extraction DataFrame (passthrough + spans/text/n_regions/n_chars/error).

    The html column is consumed inside the UDF; everything else passes
    through. A weights dict (or ``build_weights(seed)``) is broadcast here;
    a ``Broadcast`` is used as is and stays the caller's to destroy.
    ``counters`` (a ``BucketCounters`` accumulator, ``df`` bucketed by
    ``partitioning.with_bucket``) collects the per-bucket counters of
    every row the UDF emits; see ``job.run_extract`` for when each row
    counts once.
    """
    if isinstance(weights, Broadcast):
        bc = weights
    else:
        w = weights if weights is not None else wt.build_weights(seed)
        bc = df.sparkSession.sparkContext.broadcast(w)
    passthrough = [f.name for f in df.schema.fields
                   if f.name not in CONSUMED_COLS]
    schema = output_schema(df.schema)
    # Ship ONLY passthrough + payload through the Arrow boundary — e.g. a
    # raw-text metadata column (input_hint schema) must be pruned at the
    # scan, not serialized to Python and dropped there.
    pruned = df.select(*passthrough, "html")
    return pruned.mapInArrow(make_extractor(bc, passthrough, counters),
                              schema)
