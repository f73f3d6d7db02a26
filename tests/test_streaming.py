"""Structured Streaming: event-time windowed counts under a watermark."""

import os
import time

from tuatara_spark import streaming as st


def test_windowed_counts_drop_late_rows(spark, tmp_path):
    """Watermark semantics under ADVERSARIAL arrival order: a row arriving
    after the watermark has passed its window is dropped (append mode
    never revises an emitted window), and open windows are withheld.
    File A (hours 0-10) arrives first; file B (hour 11) advances the
    stream so the hour-1 window is emitted and its state evicted
    (emission lags the watermark by one batch); file C then delivers one
    LATE hour-1 row (far behind watermark = hour 9) plus a fresh hour-12
    row. The emitted hour-1 window must show file A's count only — the
    late row is dropped, never revised into an already-emitted window."""
    import pandas as pd
    import uuid

    in_dir = str(tmp_path / "win_in")
    os.makedirs(in_dir)
    base = pd.Timestamp("2024-03-01 00:30:00")
    rows_a = [{"event_id": i, "ts": base + pd.Timedelta(hours=h),
               "user_id": 1, "event_type": "view", "value": 1.0,
               "props": "{}"}
              for i, h in enumerate([0, 1, 1, 2, 5, 10])]
    rows_b = [{"event_id": 99, "ts": base + pd.Timedelta(hours=11),
               "user_id": 1, "event_type": "view", "value": 1.0,
               "props": "{}"}]
    rows_c = [{"event_id": 100, "ts": base + pd.Timedelta(hours=1),
               "user_id": 1, "event_type": "view", "value": 1.0,
               "props": "{}"},        # LATE: watermark is already hour 9
              {"event_id": 101, "ts": base + pd.Timedelta(hours=12),
               "user_id": 1, "event_type": "view", "value": 1.0,
               "props": "{}"}]
    now = time.time()
    for name, rows, mt in (("a", rows_a, now - 300), ("b", rows_b, now - 200),
                           ("c", rows_c, now - 100)):
        p = os.path.join(in_dir, f"part-{name}.parquet")
        pd.DataFrame(rows).to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True,
            index=False)
        os.utime(p, (mt, mt))

    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    agg = st.windowed_counts(stream, watermark="2 hours")
    sink = f"win_late_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(sink)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "win_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["win"]["start"].hour, r["event_type"]): r["n"]
           for r in spark.table(sink).collect()}
    assert got[(1, "view")] == 2     # late row DROPPED, not double-counted
    assert got[(0, "view")] == 1 and got[(2, "view")] == 1
    # final watermark = 12:30 - 2h = 10:30 -> hour 10 window (end 11:00),
    # hour 11 and hour 12 stay OPEN/withheld
    assert (10, "view") not in got and (12, "view") not in got
    assert (11, "view") not in got
