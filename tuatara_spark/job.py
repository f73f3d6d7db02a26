"""The extraction jobs: spark-submit entry point with resume + lineage.

Two jobs share one commit protocol. ``run_extract`` (OCR): read pages →
url-hash bucket + skew salt → explicit (bucket, salt) shuffle → Arrow-UDF
extraction. ``run_crawl`` (HTML): WARC parse → charset decode →
boilerplate strip → url-hash bucket. Both drop already-committed buckets
(resume from the last snapshot), then hand each group's DataFrame, with
a way to get the written group's per-bucket counters, to the one group
loop, ``_run_groups``: write parquet hive-partitioned by bucket → take
the counters → commit snapshot + manifests.

The OCR counters are a by-product of extraction: the UDF adds each
record batch's per-bucket sums to the group's own accumulator, and the
loop reads it once the write returns. The crawl job's write stage has
no Python step, so it re-reads the written rows with one aggregate.

Buckets are split into ``groups`` groups, one snapshot each. The loop
is pipelined two groups deep (the next group extracts while the current
one is written and committed) and commits in group order, so a mid-job
failure loses at most the two uncommitted groups and the next invocation
resumes from the last committed snapshot (north_rule).
``fail_after_groups`` is a test hook that simulates the crash.

Usage:
  spark-submit --py-files tuatara_spark.zip -m tuatara_spark.job \
      --input pages.parquet --output /table/root
"""

from __future__ import annotations

import argparse
import shutil
import threading
import uuid
from collections import deque
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Callable, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from tuatara_spark import engine, partitioning as pt
from tuatara_spark import weights as wt
from tuatara_spark.catalog import Catalog


class InjectedFailure(RuntimeError):
    """Raised by the fail_after_groups test hook."""


# The crawl job's per-bucket lineage counters, each one SQL aggregate over
# the written rows (the OCR job's are engine.COUNTERS).
_CRAWL_COUNTERS = {"pages": "count(*)", "chars": "sum(length(main_text))",
                   "empties": "count_if(length(main_text) = 0)"}

# run dir → {bucket: {counter: int}} for the written group's non-empty
# buckets
_CountFn = Callable[[str], dict]


class _Group(NamedTuple):
    """One submitted, not yet committed group of the pipeline."""
    sid: int
    run_dir: str
    buckets: list[int]
    tag: str
    schema: StructType
    future: Future


def _run_groups(spark: SparkSession, cat: Catalog, remaining: list[int],
                groups: int, group_df, counters: tuple[str, ...],
                fail_after_groups: int | None,
                extra: dict | None = None) -> int:
    """The group-commit loop shared by both jobs: split ``remaining`` into
    ``groups`` chunks; per chunk, ``group_df(buckets)`` gives the group's
    DataFrame and its count function; write the DataFrame hive-partitioned
    by bucket into a fresh run dir, call the count function on that dir
    for the per-bucket ``counters`` (a bucket with no rows commits every
    counter 0), and commit one snapshot. The loop does not know how a job
    counts. Returns the number of groups run.

    The loop is two groups deep: each group's write (its scan, shuffle
    and extraction) and count run on a pool thread, so the next group
    runs on the cores that this group's tail and commit leave idle.
    Snapshot ids are taken and commits made on the calling thread,
    strictly in group order, so the snapshot chain and the manifests are
    those of a one-at-a-time loop. On any error the uncommitted groups'
    Spark jobs are cancelled (by job tag), their threads joined and
    their run dirs deleted before the error propagates."""
    group_size = max(1, -(-len(remaining) // groups))
    chunks = [[int(b) for b in remaining[i:i + group_size]]
              for i in range(0, len(remaining), group_size)]
    sc = spark.sparkContext
    # set on failure: a group whose job the tag cancel missed (it was
    # between jobs) starts no further job
    stop = threading.Event()

    def write_and_count(run_dir: str, buckets: list[int], gdf: DataFrame,
                        count: _CountFn):
        if stop.is_set():
            return None
        gdf.write.mode("overwrite").partitionBy("part_id").parquet(run_dir)
        if stop.is_set():
            return None
        # a bucket with no rows is committed too (processed-empty), with
        # every counter 0
        per_bucket = {b: dict.fromkeys(counters, 0) for b in buckets}
        per_bucket.update({int(b): {k: int(c.get(k) or 0) for k in counters}
                           for b, c in count(run_dir).items()})
        return per_bucket

    pool = ThreadPoolExecutor(max_workers=2,
                              thread_name_prefix="tuatara-group")
    pending: deque[_Group] = deque()

    def submit(buckets: list[int]) -> None:
        sid, run_dir = cat.new_run()
        gdf, count = group_df(buckets)
        # the pool thread inherits this thread's local properties (job
        # description, pool) plus the group's tag, captured at wrap time
        tag = f"tuatara-group-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            target = inheritable_thread_target(spark)(write_and_count)
        finally:
            sc.removeJobTag(tag)
        pending.append(_Group(sid, run_dir, buckets, tag, gdf.schema,
                              pool.submit(target, run_dir, buckets, gdf,
                                          count)))

    try:
        for chunk in chunks[:2]:
            submit(chunk)
        for groups_run in range(1, len(chunks) + 1):
            g = pending[0]
            per_bucket = g.future.result()
            totals = {k: sum(c[k] for c in per_bucket.values())
                      for k in counters}
            cat.commit(g.sid, g.buckets, per_bucket, totals, extra=extra,
                       schema=g.schema)
            pending.popleft()
            if fail_after_groups is not None and \
                    groups_run >= fail_after_groups:
                raise InjectedFailure(
                    f"injected failure after {groups_run} groups")
            if groups_run + 1 < len(chunks):
                submit(chunks[groups_run + 1])
    except BaseException:
        stop.set()
        for g in pending:
            sc.cancelJobsWithTag(g.tag)
        pool.shutdown(wait=True, cancel_futures=True)
        for g in pending:
            shutil.rmtree(g.run_dir, ignore_errors=True)
        raise
    finally:
        pool.shutdown()
    return len(chunks)


def _reread_counters(spark: SparkSession, schema: StructType,
                     exprs: dict[str, str]) -> _CountFn:
    """A count function that re-reads the written run dir with one
    aggregate per counter (``exprs``: name → SQL aggregate). Pinning the
    written schema skips a footer-inference job, and a group with no
    rows reads as zero rows."""
    def count(run_dir: str) -> dict:
        rows = (spark.read.schema(schema).parquet(run_dir)
                .groupBy("part_id")
                .agg(*[F.expr(e).alias(k) for k, e in exprs.items()])
                .collect())
        return {r.part_id: r.asDict() for r in rows}
    return count


def run_extract(spark: SparkSession, input_path: str, output_root: str,
                num_buckets: int = pt.DEFAULT_NUM_BUCKETS,
                groups: int = 1,
                num_tasks: int | None = None,
                heavy_bytes: int = pt.DEFAULT_HEAVY_BYTES,
                weights_seed: int = 42,
                fail_after_groups: int | None = None) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict."""
    cat = Catalog(output_root)
    # fail fast if this invocation would reinterpret committed bucket ids
    # (different num_buckets) or produce divergent text (different weights)
    cat.pin_table_config(num_buckets=int(num_buckets),
                         weights_seed=int(weights_seed))
    done = cat.committed_buckets()
    if num_tasks is None:
        num_tasks = spark.sparkContext.defaultParallelism * 2

    pages = spark.read.parquet(input_path)
    pages = pt.with_bucket(pages, num_buckets)
    remaining = sorted(set(range(num_buckets)) - done)
    if not remaining:
        return {"resumed": True, "groups_run": 0, "buckets": [],
                "totals": cat.totals()}

    # one broadcast for every group, released even if a group fails
    sc = spark.sparkContext
    bc = sc.broadcast(wt.build_weights(weights_seed))

    def group_df(buckets: list[int]) -> tuple[DataFrame, _CountFn]:
        sub = pages.filter(pt.in_buckets(buckets))
        sub = pt.with_salt(sub, heavy_bytes=heavy_bytes)
        sub = pt.distribute(sub, num_tasks)
        # The UDF runs in the write's result stage (no exchange after
        # it), so Spark applies each partition's accumulator update once
        # and drops those of failed attempts: once the write returns,
        # the group's own accumulator holds each written row once.
        acc = sc.accumulator({}, engine.BucketCounters())

        def count(run_dir: str) -> dict:
            # hand the dict over: pyspark's accumulator registry keeps
            # acc itself for the life of the session
            per_bucket, acc.value = acc.value, {}
            return per_bucket

        return engine.extract_df(sub.drop("salt"), weights=bc,
                                 counters=acc), count

    try:
        groups_run = _run_groups(spark, cat, remaining, groups, group_df,
                                 engine.COUNTERS, fail_after_groups)
    finally:
        bc.destroy()
    return {"resumed": bool(done), "groups_run": groups_run,
            "buckets": remaining, "totals": cat.totals()}


def run_crawl(spark: SparkSession, input_dir: str, output_root: str,
              num_buckets: int = pt.DEFAULT_NUM_BUCKETS,
              groups: int = 1, num_tasks: int | None = None,
              fail_after_groups: int | None = None,
              refresh: bool = False) -> dict:
    """The HTML half of the north_rule under the SAME commit/resume
    protocol as the OCR job: WARC containers → parse → charset
    sniff+decode → boilerplate strip → url-hash buckets → per-group
    snapshot commits with per-bucket lineage counters. A crash loses at
    most the two groups in flight; the next invocation resumes from the
    last committed snapshot and reprocesses only uncommitted buckets.

    Note the resume unit is the url-hash BUCKET, not the container file:
    a container's records scatter across buckets, so a resumed run
    re-reads the input files but re-extracts only missing buckets —
    at crawl scale the re-read is the cheap half (columnar-pruned scan /
    container parse) and the commit math stays a pure function of url."""
    from tuatara_spark.ops import encoding, htmlx
    from tuatara_spark.sources import warc as W
    cat = Catalog(output_root)
    cat.pin_table_config(num_buckets=int(num_buckets), pipeline="crawl")
    # refresh = an UPSERT run over a re-crawl drop: start a new refresh
    # GENERATION and process every bucket again; readers resolve per-url
    # latest via Catalog.read_latest (merge-on-read). Resume is
    # generation-scoped: a crash mid-refresh leaves the current
    # generation partially committed, and the next refresh=False
    # invocation resumes THAT generation's missing buckets (the original
    # crawl's commits must not mask them).
    cur_gen = cat.current_gen()
    gen = cur_gen + 1 if refresh else cur_gen
    done = set() if refresh else cat.committed_buckets(gen=gen)
    if num_tasks is None:
        num_tasks = spark.sparkContext.defaultParallelism * 2

    recs = W.read_warc(spark, input_dir).where(F.col("error") == "")
    decoded = encoding.sniff_decode(recs)
    stripped = htmlx.strip_boilerplate(decoded, col="text")
    pages = pt.with_bucket(stripped, num_buckets)
    remaining = sorted(set(range(num_buckets)) - done)
    if not remaining:
        return {"resumed": True, "groups_run": 0, "buckets": [],
                "totals": cat.totals()}
    if len(remaining) > 1 and groups > 1:
        # the per-group bucket filter cannot push below the Python parse,
        # so without this every group would re-gunzip and re-parse EVERY
        # container — the dominant cost. Parse once, spill-tolerant.
        from pyspark import StorageLevel
        pages = pages.persist(StorageLevel.MEMORY_AND_DISK)

    def group_df(buckets: list[int]) -> tuple[DataFrame, _CountFn]:
        sub = (pages.filter(pt.in_buckets(buckets))
               .select("url", "warc_ts", "charset", "main_text", "part_id"))
        # text rows are uniformly small — repartition on part_id alone
        # (the OCR job's payload salting is for MB-scale page images)
        gdf = sub.repartition(num_tasks, F.col("part_id"))
        return gdf, _reread_counters(spark, gdf.schema, _CRAWL_COUNTERS)

    try:
        groups_run = _run_groups(spark, cat, remaining, groups, group_df,
                                 tuple(_CRAWL_COUNTERS), fail_after_groups,
                                 extra={"gen": gen})
    finally:
        pages.unpersist()
    return {"resumed": bool(done), "groups_run": groups_run, "gen": gen,
            "buckets": remaining, "totals": cat.totals()}


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="tuatara_spark extraction job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--num-buckets", type=int, default=pt.DEFAULT_NUM_BUCKETS)
    p.add_argument("--groups", type=int, default=4)
    p.add_argument("--num-tasks", type=int, default=None)
    p.add_argument("--heavy-bytes", type=int, default=pt.DEFAULT_HEAVY_BYTES)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--local-cores", default=None,
                   help="run standalone on local[N] instead of relying on "
                        "spark-submit's master")
    args = p.parse_args(argv)
    if args.local_cores:
        from tuatara_spark.session import get_spark
        spark = get_spark("tuatara-extract", cores=args.local_cores)
    else:
        spark = SparkSession.builder.appName("tuatara-extract").getOrCreate()
    summary = run_extract(spark, args.input, args.output,
                          num_buckets=args.num_buckets, groups=args.groups,
                          num_tasks=args.num_tasks,
                          heavy_bytes=args.heavy_bytes,
                          weights_seed=args.seed)
    print(summary)


if __name__ == "__main__":
    main()
