"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One 256² TPAGE row ≈ 196 KB → 64 rows ≈ 12 MB per Arrow batch; bounds
# Python-worker memory while keeping detection/recognition batches wide.
# Swept 64/128/256/512 with packed TPBIT payloads at local[32]: 64 stays
# fastest (1446 vs 784-904 pages/s) — larger batches lump the 2048² skew
# pages into fewer, chunkier tasks and lose overlap.
ARROW_BATCH_ROWS = 64

# The `file:` filesystem every session uses: Hadoop's LocalFileSystem with
# a setPermission that does not fork (source and rebuild command beside
# the jar).
LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "jvm", "tuatara-fs.jar")
LOCAL_FS_CLASS = "tuatara.fs.NioLocalFileSystem"


def get_spark(app: str = "tuatara-spark", cores: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] session with AQE, Arrow, and batch-size settings applied.

    cores defaults to $SPARK_GRAFT_CPUS or '*'. On a real cluster the same
    settings apply except master comes from spark-submit.

    `file:` paths go through LOCAL_FS_CLASS. pip-installed pyspark ships
    no libhadoop, and without it stock Hadoop sets a local file's
    permissions by forking `chmod`, once per file create and once per
    mkdir (a partitioned Parquet write forks for every data file, .crc
    file and directory); the class sets the same bits through java.nio.
    The jar goes on the driver's class path, which in local mode is also
    the executors'.
    """
    # Make this package importable in executor Python workers regardless of
    # the driver's cwd (local-mode stand-in for spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_root + os.pathsep + pp) if pp else pkg_root

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_for_shuffle = 32 if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_for_shuffle, 32)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        # pages are fat rows: cap scan partition size so a partition's
        # pages fit executor memory at any SF
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        # keep scans at >=2 waves per task slot: binaryFile rows (whole
        # .warc.gz members) cannot split, so without this the packing
        # rule lumps several files into one task when files are smaller
        # than maxPartitionBytes — at exactly 1 wave a single straggler
        # gates the stage (measured: the 64-file WARC chain at local[32]
        # swung 8-24 s packed vs a stable 4.9-6.6 s at one file/task).
        # Production WARC files (~1 GB) exceed the cap and never pack;
        # this pins the same one-file-per-task grain at bench scale.
        .config("spark.sql.files.minPartitionNum", str(2 * n_for_shuffle))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # generated-class cache (static conf, default 100 entries): a
        # session that runs many distinct queries cycles far more than
        # 100 codegen units, so every re-invocation re-Janino-compiles
        # its whole-stage code — the per-invocation JIT floor pinned in
        # BENCH/minhash_residual.md. 8192 entries lets repeated plans
        # hit the cache (A/B at sf0.1: minhash 5.18→4.16 s, langid
        # 4.29→3.74 s, hits 3.51→3.29 s, tier 6.83→6.32 s at matched
        # regimes; HOF-interpreted queries unchanged). Scale-neutral:
        # compiled-class cache sizing, not a local[32] tune.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # Always use the sort-based shuffle writer, never bypass-merge.
        # Bypass-merge (default for <=200 reduce partitions) opens one
        # spill file + serializer/compression stream PER REDUCE
        # PARTITION per map task; at this engine's shuffle width that
        # is 64 maps x 64 sub-files = 4096 stream setups + a merge per
        # exchange, measured 27 s CPU / 8 s blocked-write for a 964 KB
        # band-table shuffle vs 0.6 s CPU with the sort writer
        # (identical bytes, identical results; full A/B in
        # OPTIMIZATION_r06.md). Scale-uniform, not a local[32] tune:
        # production-width shuffles (>200 partitions) already take the
        # sort-writer path, so this pins small shuffles to the same
        # code path the engine uses at scale.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraClassPath", LOCAL_FS_JAR)
        .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
    )
    return builder.getOrCreate()
