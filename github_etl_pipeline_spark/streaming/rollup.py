"""Incremental materialized-aggregate maintenance: a continuously
maintained hourly rollup of the event stream (the streaming complement
of the batch ``hypertable_rollup_events`` plan, plans/relational.py).

Pattern: ``foreachBatch`` computes each micro-batch's PARTIAL aggregate
(count + decimal-exact sum per hour bucket) and MERGE-combines it into
the parquet rollup store — the classic incremental-materialized-view
loop on a plain data lake (with Delta available, sinks/upsert.merge_into
makes the combine transactional without code changes).

Correctness hinges on combining MERGEABLE partials, never finalized
values: counts and decimal sums add; averages are derived at read time.
The rollup table stays at (hours) cardinality regardless of stream
volume, each micro-batch shuffles only its own partial (one hash
aggregate per batch), and restarts are safe because the streaming
checkpoint replays unprocessed files only.

Exactly-once and crash safety: each merged store is a directory commit
(``sinks/commit.py``) stamped with the batch's epoch id, so a crash at
any point leaves a complete store and a replayed epoch is skipped.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.epoch import event_micros, bucket_div_sql
from github_etl_pipeline_spark.sinks import commit

HOUR_US = 3_600_000_000


def hourly_partial(events: DataFrame, time_col: str = "ts") -> DataFrame:
    """Mergeable hourly partial: (hour_bucket, n, v) with decimal-exact
    value sums — the same partial shape the batch hypertable rollup
    composes, so stream-maintained and batch-computed rollups agree
    bit-for-bit."""
    return (
        events.select(
            event_micros(events, time_col).alias("tsu"),
            F.col("value").cast("decimal(18,2)").alias("_v"),
        )
        .select(F.expr(bucket_div_sql("tsu", HOUR_US)).alias("hour_bucket"), "_v")
        .groupBy("hour_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # stored at decimal(38,2): a long-running rollup keeps adding
            # partials, and a downcast back to (18,2) would turn overflow
            # into a silent NULL with ANSI off
            F.sum("_v").cast("decimal(38,2)").alias("v"),
        )
    )


def combine_partials(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """MERGE two partial rollups: counts and decimal sums ADD per key."""
    return (
        existing.unionByName(batch)
        .groupBy("hour_bucket")
        .agg(F.sum("n").alias("n"), F.sum(F.col("v").cast("decimal(38,2)")).alias("v"))
        # keep the store schema pinned at decimal(38,2) — wide enough that
        # overflow is practically unreachable, and never downcast a sum
        .select("hour_bucket", "n", F.col("v").cast("decimal(38,2)").alias("v"))
    )


def maintain_hourly_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    store_path: str | Path,
    checkpoint_dir: str | Path,
    time_col: str = "ts",
):
    """Start (availableNow) a stream that keeps the hourly rollup store
    current. Returns the StreamingQuery; callers awaitTermination().

    The store and ``checkpoint_dir`` are a PAIR (``sinks/commit.py``):
    start a fresh store with a fresh checkpoint."""
    store_path = Path(store_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        staging = commit.begin(store_path)
        if commit.applied(store_path, batch_id):
            return  # replayed epoch: already applied
        partial = hourly_partial(batch_df, time_col)
        if store_path.exists():
            existing = spark.read.parquet(str(store_path))
            merged = combine_partials(existing, partial)
        else:
            merged = partial
        merged.write.mode("overwrite").parquet(str(staging))
        commit.stamp(staging, batch_id)
        commit.promote(store_path)

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark: SparkSession, store_path: str | Path) -> DataFrame:
    """Finalized view of the maintained rollup (averages derived HERE,
    never stored — partials must stay mergeable)."""
    r = spark.read.parquet(str(store_path))
    return r.select(
        "hour_bucket",
        "n",
        F.col("v").cast("double").alias("total_value"),
        (F.col("v").cast("double") / F.col("n")).alias("avg_value"),
    )
