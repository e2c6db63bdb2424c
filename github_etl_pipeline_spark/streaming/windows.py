"""Streaming windowed aggregation and stream-stream joins.

The reference has no in-engine streaming (SURVEY §2.6) — its CI loop is
micro-batch incremental, covered by streaming/incremental.py. These
operators supply the Structured Streaming surface a training-data
pipeline needs on event streams:

  * ``windowed_event_counts`` — tumbling (or, with ``slide``, sliding)
    event-time windows with a watermark for late data: the canonical
    ``readStream -> withWatermark -> groupBy(window(...)) -> writeStream``
    shape. Works identically on a batch DataFrame (Spark's unified
    semantics) — tests exercise both, so correctness is checkable
    without wall-clock waits.
  * ``interval_join_streams`` — a watermarked stream-stream interval
    join whose state the event-time range bounds.

Gap-based sessions are the registry's ``sessionize_events`` query (a
batch window plan).

Scale notes: watermark bounds state size (late rows beyond it are
dropped); state-store shuffles are keyed by user — skewed users would
need salting at the keyBy (same lever as batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.epoch import event_time

# event-time column's physical type varies across driver testdata
# regenerations (BIGINT nanos vs TIMESTAMP_NTZ micros) — functions/epoch.py
# dispatches on the resolved dtype and yields the identical instant either
# way, as a proper timestamp for window()/watermark semantics
def _event_time(df: DataFrame, col: str = "ts") -> F.Column:
    return event_time(df, col)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (default) or sliding (``slide`` < duration) window counts
    + decimal-exact value sums per event_type. A sliding window assigns
    each event to duration/slide overlapping windows (Spark's window()
    does the fan-out JVM-side as an Expand, before the one aggregate
    shuffle).

    ``events`` may be a streaming OR batch DataFrame; with streaming input
    the watermark bounds state and drops data later than ``watermark``.
    Output: window_start/window_end (epoch micros), event_type, cnt,
    sum_value.
    """
    et = _event_time(events, time_col).alias("_et")
    w = F.window("_et", window_duration, slide) if slide else F.window("_et", window_duration)
    df = events.select(et, "event_type", "value")
    if df.isStreaming:
        df = df.withWatermark("_et", watermark)
    agg = df.groupBy(w.alias("_w"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return agg.select(
        F.unix_micros(F.col("_w.start")).alias("window_start_us"),
        F.unix_micros(F.col("_w.end")).alias("window_end_us"),
        "event_type",
        "cnt",
        "sum_value",
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    within_ms: int = 30 * 60 * 1000,
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    time_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Watermarked stream-stream INNER interval join: right-side events
    within ``[left_ts, left_ts + within_ms]`` for the same key.

    The canonical Structured Streaming join shape: both sides carry a
    watermark and the join condition carries the event-time range, which
    together bound the state store — a left row can be evicted once the
    right watermark passes ``left_ts + within_ms`` (and vice versa), so
    state is O(key-rate x window), never O(stream). Inner joins emit
    eagerly as matches arrive, so under ``Trigger.AvailableNow`` the
    output equals the batch join exactly (tested). On batch inputs the
    watermarks are skipped and Catalyst plans a plain range-condition
    equi-join.

    Output: (key, left_id, right_id, left_us, right_us, delay_ms) — all
    integers, cross-engine hash-stable.
    """
    l = left.select(
        F.col(key_col),
        F.col(id_col).alias("left_id"),
        _event_time(left, time_col).alias("_lt"),
    )
    r = right.select(
        F.col(key_col).alias("_rkey"),
        F.col(id_col).alias("right_id"),
        _event_time(right, time_col).alias("_rt"),
    )
    if l.isStreaming:
        l = l.withWatermark("_lt", left_watermark)
    if r.isStreaming:
        r = r.withWatermark("_rt", right_watermark)
    j = l.join(
        r,
        (F.col(key_col) == F.col("_rkey"))
        & (F.col("_rt") >= F.col("_lt"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"INTERVAL {int(within_ms)} MILLISECONDS")),
        "inner",
    )
    lus = F.unix_micros(F.col("_lt"))
    rus = F.unix_micros(F.col("_rt"))
    return j.select(
        F.col(key_col),
        "left_id",
        "right_id",
        lus.alias("left_us"),
        rus.alias("right_us"),
        ((rus - lus) / F.lit(1000)).cast("long").alias("delay_ms"),
    )
