"""Structured Streaming ingestion for the extraction pipeline.

The reference is strictly batch (one image per call; SURVEY.md §2.2), and
the north_rule's "resumable from checkpoint" is satisfied by the batch
snapshot catalog (tuatara_spark.catalog). This module additionally runs
the same Arrow-UDF engine as a Structured Streaming flow for continuous
crawl ingestion: new parquet files landing in a directory
(``read_page_stream``) go through ``engine.extract_df`` and are extracted
incrementally with Spark's own checkpointing, exactly-once per file.

``mapInArrow`` is streaming-compatible (stateless per-batch transform), so
the one shared kernel serves batch, resume, and streaming without change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    return (spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


HOST_STATE_SCHEMA = "pages long, chars long"
HOST_OUT_SCHEMA = "host string, pages long, chars long"


def host_counter_stream(extracted: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running per-host extraction
    counters via ``applyInPandasWithState`` (state = cumulative pages/chars
    per host, persisted in the checkpoint across micro-batches and
    restarts). The streaming analogue of the batch catalog's lineage
    counters; output mode 'update'."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        pages, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            pages += len(pdf)
            chars += int(pdf["n_chars"].fillna(0).sum())
        state.update((pages, chars))
        yield pd.DataFrame({"host": [key[0]], "pages": [pages],
                            "chars": [chars]})

    hosts = extracted.withColumn("host", F.expr("parse_url(url, 'HOST')"))
    return hosts.groupBy("host").applyInPandasWithState(
        fn, HOST_OUT_SCHEMA, HOST_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "0 seconds",
                    time_col: str = "ts",
                    key_col: str = "event_type") -> DataFrame:
    """Event-time windowed counts with a watermark for late data — the
    standard Structured Streaming pattern the north_star names (windowed
    aggs + watermark). In append output mode a window emits only once the
    watermark passes its end, so late rows beyond the watermark are
    DROPPED, not double-counted; the checkpoint carries window state
    across restarts. At 100 TB the state store holds one row per open
    (window, key) — bounded by the watermark horizon, not the stream."""
    from pyspark.sql import functions as F
    return (stream.withWatermark(time_col, watermark)
            .groupBy(F.window(time_col, window).alias("win"),
                     F.col(key_col))
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("sum_value")))


def dedup_stream(stream: DataFrame, key_col: str = "url",
                 time_col: str = "ts",
                 watermark: str = "0 seconds") -> DataFrame:
    """Streaming crawl dedup: keep the FIRST arrival per key, dropping
    re-crawls that land within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state for a key is evicted once
    the watermark passes its event time, so at 10^12 rows the state
    store is bounded by keys-per-horizon, not keys-ever-seen; the
    unbounded-state ``dropDuplicates`` would OOM a year-long stream).
    Duplicates arriving AFTER eviction re-emit — the documented
    at-least-once trade-off; the batch `crawl_pipeline` keep-latest pass
    is the exact compactor downstream."""
    return (stream.withWatermark(time_col, watermark)
            .dropDuplicatesWithinWatermark([key_col]))


def start_to_parquet(extracted: DataFrame, output_dir: str,
                     checkpoint_dir: str):
    """Write the extraction stream to parquet with checkpointed
    exactly-once file tracking. ``availableNow`` drains the backlog and
    stops — the streaming analogue of one batch-job run."""
    return (extracted.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def read_warc_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming WARC ingest: watch a directory for arriving ``*.warc(.gz)``
    files (the shape of a live crawl dropping finished containers) and
    parse each exactly once — Spark's file-source checkpoint tracks seen
    files, so a restart resumes with no re-parse and no gap. Parsing
    reuses sources/warc.warc_rows via the same Arrow-batched mapInPandas
    as the batch reader; ``maxFilesPerTrigger`` bounds micro-batch size
    so one trigger never bites off more containers than the cluster
    chews concurrently."""
    from tuatara_spark.sources import warc as W
    files = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .option("maxFilesPerTrigger", str(max_files_per_trigger))
             .load(input_dir)
             .select("path", "content"))
    return files.mapInPandas(W.parse_batches_fn(), W.WARC_SCHEMA)
