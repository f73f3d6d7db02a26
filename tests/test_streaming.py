"""Structured Streaming ingestion: incremental extraction with Spark
checkpointing (exactly-once per file; availableNow drain)."""

import os
import time

from tuatara_spark import engine, fixtures as fx, streaming as st


def _wait_done(query, timeout=120):
    query.awaitTermination(timeout)


def test_stream_extracts_incrementally(spark, weights, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    first = fx.make_pages(8, seed=31)
    fx.pages_to_parquet(first, os.path.join(in_dir, "batch0.parquet"))

    pages = st.read_page_stream(spark, in_dir)
    q = st.start_to_parquet(engine.extract_df(pages, weights=weights),
                            out_dir, ck_dir)
    _wait_done(q)
    got = {r.url: r.text for r in spark.read.parquet(out_dir).collect()}
    truth = dict(zip(first["url"], first["text"]))
    assert got == truth  # byte-identical through the streaming path

    # a second file lands; a new availableNow run drains ONLY the new file
    second = fx.make_pages(5, seed=32)
    fx.pages_to_parquet(second, os.path.join(in_dir, "batch1.parquet"))
    q2 = st.start_to_parquet(engine.extract_df(
        st.read_page_stream(spark, in_dir), weights=weights), out_dir, ck_dir)
    _wait_done(q2)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 13  # 8 + 5, no reprocessing of batch0
    got = {r.url: r.text for r in rows}
    truth.update(dict(zip(second["url"], second["text"])))
    assert got == truth


def test_stateful_host_counters_accumulate(spark, weights, tmp_path):
    """applyInPandasWithState: per-host counters persist in the checkpoint
    and accumulate across separate availableNow runs."""
    import pandas as pd
    in_dir = str(tmp_path / "in")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)
    first = fx.make_pages(6, seed=41)
    fx.pages_to_parquet(first, os.path.join(in_dir, "b0.parquet"))

    def run_once(name):
        collected = []

        def sink(batch_df, _bid):
            collected.extend(batch_df.collect())

        counters = st.host_counter_stream(engine.extract_df(
            st.read_page_stream(spark, in_dir), weights=weights))
        q = (counters.writeStream.foreachBatch(sink)
             .outputMode("update")
             .option("checkpointLocation", ck_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {r.host: (r.pages, r.chars) for r in collected}

    got1 = run_once("hc1")
    assert sum(p for p, _ in got1.values()) == 6

    second = fx.make_pages(4, seed=42)
    fx.pages_to_parquet(second, os.path.join(in_dir, "b1.parquet"))
    got2 = run_once("hc2")
    # only updated hosts re-emit; totals accumulated with batch-1 state
    assert sum(p for p, _ in got2.values()) == 4 + sum(
        got1.get(h, (0, 0))[0] for h in got2)
    for h, (p, c) in got2.items():
        assert p >= got1.get(h, (0, 0))[0]


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


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming crawl dedup: a re-crawl of the same url within the
    watermark horizon is dropped (state alive); after the watermark has
    evicted the key, a much-later re-crawl re-emits — the documented
    bounded-state trade-off."""
    import pandas as pd
    import uuid

    in_dir = str(tmp_path / "dd_in")
    os.makedirs(in_dir)
    base = pd.Timestamp("2024-03-01 00:00:00")
    # file A: first crawls of u1/u2 + an in-horizon duplicate of u1
    rows_a = [{"url": "u1", "ts": base},
              {"url": "u2", "ts": base + pd.Timedelta(minutes=10)},
              {"url": "u1", "ts": base + pd.Timedelta(minutes=20)}]
    # file B: advances event time far past the horizon
    rows_b = [{"url": "u3", "ts": base + pd.Timedelta(hours=10)}]
    # file C: one more batch — state eviction lags the watermark by a
    # batch, so THIS batch's cleanup (wm = 9:00) evicts u1
    rows_c = [{"url": "u4", "ts": base + pd.Timedelta(minutes=605)}]
    # file D: re-crawl of u1 AFTER eviction → re-emits
    rows_d = [{"url": "u1", "ts": base + pd.Timedelta(hours=11)}]
    now = time.time()
    for name, rows, mt in (("a", rows_a, now - 400), ("b", rows_b, now - 300),
                           ("c", rows_c, now - 200), ("d", rows_d, now - 100)):
        p = os.path.join(in_dir, f"part-{name}.parquet")
        pd.DataFrame(rows).to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True,
            index=False)
        os.utime(p, (mt, mt))

    stream = (spark.readStream.schema("url string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    dd = st.dedup_stream(stream, watermark="1 hour")
    sink = f"dd_{uuid.uuid4().hex[:8]}"
    q = (dd.writeStream.format("memory").queryName(sink)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.url, r.ts) for r in spark.table(sink).collect())
    urls = [u for u, _ in got]
    assert urls.count("u1") == 2            # first crawl + post-eviction
    assert urls.count("u2") == 1 and urls.count("u3") == 1
    assert urls.count("u4") == 1
    # the in-horizon duplicate (minute 20) was dropped: kept u1 rows are
    # the original and the hour-11 re-crawl
    u1_ts = sorted(t for u, t in got if u == "u1")
    assert u1_ts[0] == base.to_pydatetime()
    assert u1_ts[1].hour == 11


def test_streaming_warc_ingest_exactly_once(spark, tmp_path):
    """Files dropped into a watched dir parse exactly once; restart from
    the same checkpoint re-reads nothing; late-arriving files are picked
    up by the next drain."""
    from tuatara_spark import streaming as st
    from tuatara_spark.sources import warc as W

    in_dir, out_dir, ckpt = (str(tmp_path / d)
                             for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)

    def page(i):
        return {"url": f"https://s.org/{i}", "date": "2026-01-01T00:00:00Z",
                "status": 200, "content_type": "text/html",
                "body": f"<p>stream {i}</p>".encode(),
                "chunked": i % 2 == 0}

    with open(os.path.join(in_dir, "a.warc.gz"), "wb") as f:
        f.write(W.encode_warc([page(0), page(1)]))

    def drain():
        recs = st.read_warc_stream(spark, in_dir)
        q = (recs.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got = {r.url for r in spark.read.parquet(out_dir).collect()}
    assert got == {"https://s.org/0", "https://s.org/1"}

    # second file arrives; restarted query parses ONLY the new file
    with open(os.path.join(in_dir, "b.warc.gz"), "wb") as f:
        f.write(W.encode_warc([page(2)]))
    drain()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 3                      # no duplicates from file a
    assert {r.url for r in rows} == {f"https://s.org/{i}" for i in range(3)}
