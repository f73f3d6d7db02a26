"""Structured Streaming operators.

The reference is strictly batch (one image per call; SURVEY.md §2.2), and
the north_rule's "resumable from checkpoint" is satisfied by the batch
snapshot catalog (tuatara_spark.catalog). This module holds the
event-time windowed aggregation that ``q_streaming_windowed_counts``
runs; the stateful ``applyInPandasWithState`` counter lives in
``q_streaming_lang_counters``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
