"""Traced run: spans around public entry points, Spark's event log and
driver-side ``ref`` stage timers, reduced to the per-layer metrics.

Three sources, all from the benchmark's own files (nothing in the
program is edited):

* Wrappers installed over public functions (``Catalog.new_run``,
  ``Catalog.commit``, ``engine.extract_df``, ``partitioning.with_salt``,
  ``job.run_extract``, ``job.run_crawl``, ``dedup.minhash_signature``,
  ``dedup.minhash_lsh_pairs``, ``dedup.cluster_ids``,
  ``SparkContext.broadcast``). Each records a span and sets the Spark job
  description, so every job in the event log names the span that
  launched it. The signature wrapper also materializes its (already
  persisted) result inside its span, so signature time is separable
  from the band join.
* Spark's event log (enabled by ``run.py`` for traced runs): per-task
  run, CPU, GC, shuffle and spill figures, and the SQL metrics of the
  plan nodes (Python worker time and bytes, scan and exchange counts).
* The ``ref`` pipeline stages timed one by one on the workload's own
  pages in 64-page batches in the driver.

Spans are kept in memory and written to ``spans.json`` when the run
ends. In a traced run the timed passes alternate between wrappers off
and on; the rate ratio is ``trace.overhead_ratio`` (the event log itself
is on for both).
"""

from __future__ import annotations

import functools
import json
import os
import pickle
import statistics
import time
from contextlib import contextmanager

import numpy as np

from perfbench.eventlog import EventLog
from perfbench.workloads import NUM_BUCKETS

EXTRACT_BATCH = 64

LAYERS_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "layers.json")


def layer_units() -> dict[str, str]:
    """Per-layer metric name → unit, from layers.json."""
    with open(LAYERS_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["metrics"]}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Tracer:
    """Spans and pass records of one traced run; ``layer_metrics``
    reduces them, with the run's event log, to the per-layer metrics."""

    def __init__(self, workload: str, work: str, spans_path: str,
                 input_dir: str):
        self.workload = workload
        self.input_dir = input_dir
        self.event_dir = os.path.join(work, "events")
        os.makedirs(self.event_dir, exist_ok=True)
        self.spans_path = spans_path
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.passes: list[dict] = []
        self.heavy_bytes: int | None = None
        self._sc = None
        self._in_group = False  # between Catalog.new_run and .commit

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": (self._stack[-1]
                                                   if self._stack else None),
               "pass": len(self.passes), "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _describe(self, text: str | None) -> None:
        self._sc.setJobDescription(text)

    def _wrap(self, owner, attr: str, span_name: str, before=None,
              after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(span_name):
                if before:
                    before(args, kwargs)
                out = orig(*args, **kwargs)
                if after:
                    out = after(out)
                return out
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        """Install the wrappers (inactive until a traced pass begins)."""
        from pyspark import SparkContext
        from pyspark.sql.readwriter import DataFrameReader

        from tuatara_spark import engine, job
        from tuatara_spark import partitioning as pt
        from tuatara_spark.catalog import Catalog
        from tuatara_spark.ops import dedup
        self._sc = spark.sparkContext

        def group_start(out):
            self._in_group = True
            self._describe("job.write")
            return out

        def group_end(out):
            self._in_group = False
            self._describe("job.driver")
            return out

        def reread(args, kwargs):
            if self._in_group:  # the post-write counter re-read
                self._describe("job.counter_reread")

        def salt(args, kwargs):
            self.heavy_bytes = kwargs.get("heavy_bytes",
                                          pt.DEFAULT_HEAVY_BYTES)

        def broadcast(args, kwargs):
            self.spans[self._stack[-1]]["bytes"] = len(pickle.dumps(
                args[1], protocol=pickle.HIGHEST_PROTOCOL))

        def materialize(df):
            from pyspark import StorageLevel
            self._describe("ops.dedup.signature")
            df.persist(StorageLevel.MEMORY_AND_DISK).count()
            self._describe("ops.dedup.pairs")
            return df

        def described(text):
            def before(args, kwargs):
                self._describe(text)
            return before

        self._wrap(Catalog, "new_run", "catalog.new_run", after=group_start)
        self._wrap(Catalog, "commit", "catalog.commit", after=group_end)
        self._wrap(DataFrameReader, "parquet", "reader.parquet",
                   before=reread)
        self._wrap(engine, "extract_df", "engine.extract_df")
        self._wrap(pt, "with_salt", "partitioning.with_salt", before=salt)
        self._wrap(SparkContext, "broadcast", "spark.broadcast",
                   before=broadcast)
        self._wrap(job, "run_extract", "job.run_extract",
                   before=described("job.driver"))
        self._wrap(job, "run_crawl", "job.run_crawl",
                   before=described("job.driver"))
        self._wrap(dedup, "minhash_signature", "ops.dedup.minhash_signature",
                   after=materialize)
        self._wrap(dedup, "minhash_lsh_pairs", "ops.dedup.minhash_lsh_pairs",
                   before=described("ops.dedup.pairs"))
        self._wrap(dedup, "cluster_ids", "ops.dedup.cluster_ids",
                   before=described("ops.dedup.cluster_ids"),
                   after=lambda out: (self._describe("ops.dedup.write")
                                      or out))

    # -- passes ------------------------------------------------------------

    def begin_pass(self, traced: bool) -> None:
        self.enabled = traced
        if traced:
            self._pass_span = self.span("pass")
            self._pass_rec = self._pass_span.__enter__()

    def end_pass(self, out_root: str, rows: int) -> None:
        if not self.enabled:
            return
        self._pass_span.__exit__(None, None, None)
        self._describe(None)
        self.enabled = False
        rec = self._pass_rec
        root = (out_root if self.workload == "ocr_skew"
                else os.path.join(out_root, "crawl"))
        mdir = os.path.join(root, "_manifests")
        rec["manifest_bytes"] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(mdir) for f in fs)
        rec["rows"] = rows
        from perfbench import workloads as wl
        if self.heavy_bytes is not None:
            html = wl.read_parquet_dir(self.input_dir, ["html"])["html"]
            rec["salted_rows"] = sum(h is not None and len(h) > self.heavy_bytes
                                     for h in html)
        if self.workload == "ocr_skew":
            out = wl.read_parquet_dir(os.path.join(root, "data"), ["error"])
            rec["error_rows"] = sum(e is not None for e in out["error"])
        else:
            out = wl.read_parquet_dir(os.path.join(out_root, "pairs"),
                                      ["id_a"])
            rec["accepted_pairs"] = len(out["id_a"])
        self.passes.append(rec)

    def write_spans(self) -> None:
        os.makedirs(os.path.dirname(self.spans_path), exist_ok=True)
        with open(self.spans_path, "w") as f:
            json.dump(self.spans, f)

    # -- metrics -----------------------------------------------------------

    def _children(self, pass_rec: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s["pass"] == pass_rec["pass"] and "end" in s]

    def layer_metrics(self, log: EventLog, nproc: int) -> dict[str, float]:
        """Per-layer metrics: the median over traced passes of each."""
        per_pass = [self._pass_metrics(log, p, nproc) for p in self.passes]
        # task-time distribution over all traced passes' extraction tasks
        runs = [r for pm in per_pass for r in pm.pop("_extract_runs")]
        out = {k: _median(pm[k] for pm in per_pass) for k in per_pass[0]}
        out["partitioning.extract_task_s_p50"] = _quantile(runs, 0.5)
        out["partitioning.extract_task_s_p90"] = _quantile(runs, 0.9)
        out["partitioning.extract_task_samples"] = float(len(runs))
        return out

    def _pass_metrics(self, log: EventLog, p: dict, nproc: int) -> dict:
        t0, t1 = p["start"] * 1000, p["end"] * 1000
        rows = p["rows"]
        kpages = rows / 1000
        jobs = log.jobs_between(t0, t1)
        tasks = log.tasks_of(jobs)
        write_jobs = [j for j in jobs if j.description == "job.write"]
        write_tasks = log.tasks_of(write_jobs)
        m: dict = {}
        m["job.groups_per_pass"] = float(len(self._children(
            p, "catalog.commit")))
        m["job.spark_jobs_per_pass"] = float(len(jobs))
        m["job.stages_per_pass"] = float(sum(
            1 for j in jobs for s in j.stage_ids
            if log.stages.get(s) and log.stages[s].complete_ms))
        scans = (log.metric_ids("number of output rows", "Scan")
                 | log.metric_ids("number of output rows",
                                  "InMemoryTableScan"))
        m["job.input_rows_scanned_per_page"] = (
            log.metric_sum(write_tasks, scans) / rows)
        m["job.driver_gap_s"] = (t1 - t0 - log.busy_ms(jobs, t0, t1)) / 1000
        m["job.counter_reread_s"] = sum(
            j.end_ms - j.start_ms for j in jobs
            if j.description == "job.counter_reread") / 1000
        commits = [s["end"] - s["start"]
                   for s in self._children(p, "catalog.commit")]
        m["catalog.commit_s_p50"] = _median(commits)
        m["catalog.commit_s_max"] = max(commits, default=0.0)
        m["catalog.manifest_bytes_per_bucket"] = (p["manifest_bytes"]
                                                  / NUM_BUCKETS)
        m["weights.broadcasts_per_pass"] = float(len(self._children(
            p, "spark.broadcast")))
        m["weights.broadcast_bytes"] = float(sum(
            s.get("bytes", 0) for s in self._children(p, "spark.broadcast")))
        m["partitioning.shuffle_bytes_per_page"] = sum(
            t.shuffle_write_bytes for t in write_tasks) / rows

        # Python boundary: MapInArrow = OCR engine, MapInPandas = WARC parse
        def py(node: str, name: str, tasks=tasks) -> float:
            return log.metric_sum(tasks, log.metric_ids(name, node))
        arrow = "MapInArrow"
        m["engine.python_s_per_kpage"] = (
            py(arrow, "time to run Python workers") / kpages)
        m["engine.worker_init_s"] = (
            py(arrow, "time to initialize Python workers")
            + py(arrow, "time to start Python workers"))
        m["engine.arrow_sent_bytes_per_page"] = (
            py(arrow, "data sent to Python workers") / rows)
        m["engine.arrow_returned_bytes_per_page"] = (
            py(arrow, "data returned from Python workers") / rows)
        m["engine.error_rows_per_kpage"] = p.get("error_rows", 0) / kpages
        m["sources.warc.parse_python_s_per_kpage"] = (
            py("MapInPandas", "time to run Python workers") / kpages)
        bin_scan = log.metric_ids("number of output rows", "Scan binaryFile")
        m["sources.warc.input_bytes_per_page"] = sum(
            t.input_bytes for t, _ in log.metric_per_task(tasks, bin_scan)
        ) / rows

        # extraction tasks: the Python map stage of each group's write
        ids = (log.metric_ids("time to run Python workers", arrow)
               | log.metric_ids("time to run Python workers", "MapInPandas"))
        by_stage: dict[int, list] = {}
        for t, _ in log.metric_per_task(write_tasks, ids):
            by_stage.setdefault(t.stage_id, []).append(t.run_ms / 1000)
        m["partitioning.extract_task_skew"] = _median(
            max(v) / statistics.median(v) for v in by_stage.values()
            if statistics.median(v) > 0)
        m["_extract_runs"] = [r for v in by_stage.values() for r in v]
        stage_wall = sum((log.stages[s].complete_ms
                          - log.stages[s].submit_ms) / 1000
                         for s in by_stage)
        m["engine.core_busy_ratio"] = (
            sum(sum(v) for v in by_stage.values())
            / (stage_wall * nproc) if stage_wall else 0.0)
        m["partitioning.salted_rows"] = float(p.get("salted_rows", 0))

        crawl = self._children(p, "job.run_crawl")
        if crawl:
            c0, c1 = crawl[0]["start"] * 1000, crawl[0]["end"] * 1000
            cj = [j for j in log.jobs_between(c0, c1)
                  if j.description == "job.write"]
            m["ops.htmlx.jvm_cpu_s_per_kpage"] = sum(
                t.cpu_ns for t in log.tasks_of(cj)) / 1e9 / kpages
        else:
            m["ops.htmlx.jvm_cpu_s_per_kpage"] = 0.0

        m.update(self._dedup_metrics(log, p))
        m["spark.gc_s_per_kpage"] = sum(t.gc_ms for t in tasks) / 1000 / kpages
        m["spark.executor_cpu_s_per_kpage"] = (
            sum(t.cpu_ns for t in tasks) / 1e9 / kpages)
        m["spark.spill_bytes"] = float(sum(t.spill_bytes for t in tasks))
        return m

    def _dedup_metrics(self, log: EventLog, p: dict) -> dict:
        names = ("ops.dedup.signature_s", "ops.dedup.band_shuffle_bytes",
                 "ops.dedup.capped_rows",
                 "ops.dedup.band_task_rows_max_over_median",
                 "ops.dedup.candidate_pairs", "ops.dedup.accepted_pairs",
                 "ops.dedup.accept_ratio", "ops.dedup.cluster_rounds",
                 "ops.dedup.cluster_s")
        m = dict.fromkeys(names, 0.0)
        sig = self._children(p, "ops.dedup.minhash_signature")
        if not sig:
            return m
        m["ops.dedup.signature_s"] = sig[0]["end"] - sig[0]["start"]
        pair_jobs = [j for j in log.jobs_between(p["start"] * 1000,
                                                 p["end"] * 1000)
                     if j.description == "ops.dedup.pairs"]
        pt = log.tasks_of(pair_jobs)
        band_x = log.metric_ids("shuffle bytes written", "Exchange",
                                "band_idx")
        m["ops.dedup.band_shuffle_bytes"] = log.metric_sum(pt, band_x)
        # each self-join side may run its own copy of these nodes
        band_rows = max((log.metric_sum(pt, {aid}) for aid in log.metric_ids(
            "number of output rows", "Generate", "posexplode")), default=0.0)
        kept = max((log.metric_sum(pt, {aid}) for aid in log.metric_ids(
            "number of output rows", "Filter", "_bn")), default=band_rows)
        m["ops.dedup.capped_rows"] = band_rows - kept
        reads = [v for _, v in log.metric_per_task(pt, log.metric_ids(
            "records read", "Exchange", "band_idx")) if v > 0]
        m["ops.dedup.band_task_rows_max_over_median"] = (
            max(reads) / statistics.median(reads) if reads else 0.0)
        accepted = float(p.get("accepted_pairs", 0))
        cand = max((log.metric_sum(pt, {aid}) for aid in log.metric_ids(
            "number of output rows", "HashAggregate", "id_a")), default=0.0)
        m["ops.dedup.candidate_pairs"] = cand
        m["ops.dedup.accepted_pairs"] = accepted
        m["ops.dedup.accept_ratio"] = accepted / cand if cand else 0.0
        cl = self._children(p, "ops.dedup.cluster_ids")
        m["ops.dedup.cluster_s"] = cl[0]["end"] - cl[0]["start"]
        # each round ends in one count() action, i.e. one SQL execution
        cjobs = log.jobs_between(cl[0]["start"] * 1000, cl[0]["end"] * 1000)
        m["ops.dedup.cluster_rounds"] = float(len(
            {j.execution_id for j in cjobs if j.execution_id is not None}))
        return m


# --------------------------------------------------------------------------
# ref stages, timed in the driver
# --------------------------------------------------------------------------

REF_SMALL_PAGES = 128
REF_STAGES = ("decode", "resize", "detect_forward", "boxes", "crop",
              "crops_to_ink", "recognize", "assemble")


def time_ref_stages(input_dir: str, truth: dict) -> dict[str, float]:
    """Run the ``ref`` pipeline stage by stage over the workload's pages
    (the first ``REF_SMALL_PAGES`` 256² pages and every larger page,
    poison pages skipped) in 64-page batches, exactly as ``pipeline.detect_pages`` and
    ``engine.make_extractor`` chain them, and check the assembled text
    against the ground truth."""
    import pyarrow.parquet as pq

    from tuatara_spark import fixtures as fx
    from tuatara_spark import weights as wt
    from tuatara_spark.ref import detect as dt
    from tuatara_spark.ref import geometry as g
    from tuatara_spark.ref import model as md
    from tuatara_spark.ref import pipeline as pl
    from tuatara_spark.ref import resize as rz
    params = wt.build_weights(42)
    pages = {"small": [], "large": []}
    for name in sorted(os.listdir(input_dir)):
        t = pq.read_table(os.path.join(input_dir, name),
                          columns=["url", "html"])
        for url, html in zip(t.column("url").to_pylist(),
                             t.column("html").to_pylist()):
            if truth["text"].get(url) is None:
                continue  # poison page: no stages to time
            h = int.from_bytes(html[4:6], "little")
            size = "small" if h <= 256 else "large"
            pages[size].append((url, html))
    pages["small"] = pages["small"][:REF_SMALL_PAGES]
    tot = {size: dict.fromkeys(REF_STAGES, 0.0) for size in pages}
    regions = mismatches = 0
    for size, plist in pages.items():
        acc = tot[size]
        for b in range(0, len(plist), EXTRACT_BATCH):
            batch = plist[b:b + EXTRACT_BATCH]
            t = time.perf_counter()
            images = [fx.decode_payload(html) for _, html in batch]
            acc["decode"] += time.perf_counter() - t
            t = time.perf_counter()
            swapped = [rz.swap_channels(im) for im in images]
            proc = [rz.resize_aspect_ratio(im, pl.CANVAS_SIZE, pl.MAG_RATIO)
                    for im in swapped]
            acc["resize"] += time.perf_counter() - t
            ratio = proc[0][1]
            h0, w0 = images[0].shape[:2]
            t = time.perf_counter()
            maps = md.detect_forward_u8(
                params, np.stack([q[0] for q in proc]),
                valid_hw=(int(h0 * ratio), int(w0 * ratio)))
            acc["detect_forward"] += time.perf_counter() - t
            t = time.perf_counter()
            boxes = [g.adjust_result_coordinates(
                dt.get_detected_boxes(maps[j, ..., 0], maps[j, ..., 1])[0],
                1.0 / ratio, 1.0 / ratio) for j in range(len(batch))]
            acc["boxes"] += time.perf_counter() - t
            t = time.perf_counter()
            crops = [pl.crop_regions(im, bx)
                     for im, bx in zip(swapped, boxes)]
            acc["crop"] += time.perf_counter() - t
            flat = [c for cs in crops for c in cs]
            t = time.perf_counter()
            ink = pl.crops_to_ink(flat, params)
            acc["crops_to_ink"] += time.perf_counter() - t
            t = time.perf_counter()
            texts = pl.recognize_ink(params, ink)
            acc["recognize"] += time.perf_counter() - t
            t = time.perf_counter()
            pos = 0
            for (url, _), bx in zip(batch, boxes):
                spans = [{"text": s, "bbox": g.rect_to_tesseract_bbox(c)}
                         for s, c in zip(texts[pos:pos + len(bx)], bx)]
                pos += len(bx)
                regions += len(bx)
                mismatches += (pl.assemble_reading_order(spans)
                               != truth["text"][url])
            acc["assemble"] += time.perf_counter() - t
    n = sum(len(v) for v in pages.values())
    if mismatches:
        raise RuntimeError(f"ref stage replay: {mismatches} of {n} pages "
                           "differ from the ground truth")
    out = {f"ref.{s}_ms_per_page":
           1000 * sum(tot[z][s] for z in tot) / n for s in REF_STAGES}
    out["ref.regions_per_page"] = regions / n
    small, large = tot["small"], tot["large"]
    out["ref.small_page_detect_share"] = (
        (small["detect_forward"] + small["boxes"]) / sum(small.values())
        if pages["small"] else 0.0)
    out["ref.large_page_resize_share"] = (
        large["resize"] / sum(large.values()) if pages["large"] else 0.0)
    return out
