"""Compaction sink: file-count reduction, row preservation, and the
data-skipping property the rewrite exists for (non-overlapping per-file
key ranges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from github_etl_pipeline_spark.sinks.compact import compact_parquet


def _fragmented_table(spark, path, n_files=40, rows_per_file=50):
    """Simulate streaming-ingest damage: many tiny files, each spanning
    the WHOLE key range (worst case for data skipping)."""
    df = (
        spark.range(n_files * rows_per_file)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
        # round-robin scatter: every output file gets keys from the full range
        .repartition(n_files)
    )
    df.write.mode("overwrite").parquet(str(path))
    return df


def test_compact_reduces_files_and_preserves_rows(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _fragmented_table(spark, src)
    stats = compact_parquet(spark, src, dst, sort_cols=["k"], target_rows_per_file=500)
    assert stats["rows"] == 2000
    assert stats["files_before"] >= 30
    assert stats["files_after"] <= 5
    out = spark.read.parquet(str(dst))
    assert out.count() == 2000
    # content identical, schema identical
    assert sorted(out.columns) == ["k", "v"]
    assert out.agg(F.sum("k"), F.sum("v")).collect() == spark.read.parquet(
        str(src)
    ).agg(F.sum("k"), F.sum("v")).collect()


def test_compact_produces_nonoverlapping_key_ranges(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _fragmented_table(spark, src)
    compact_parquet(spark, src, dst, sort_cols=["k"], target_rows_per_file=500)
    ranges = (
        spark.read.parquet(str(dst))
        .select(F.col("k"), F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) >= 2
    for prev, cur in zip(ranges, ranges[1:]):
        # range partitioning: every file's span is disjoint -> a point
        # lookup on k prunes to exactly one file
        assert prev["hi"] < cur["lo"]


def test_compact_requires_sort_cols(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        compact_parquet(spark, tmp_path, tmp_path / "o", sort_cols=[])


def test_compact_in_place_recovers_crashed_swap(spark, tmp_path):
    """Crash between the two renames of an in-place compaction: the table
    sits only at its ``._old`` name and a half-written staging dir is
    lying around. The next call restores the table and compacts all of
    it."""
    table = tmp_path / "t"
    _fragmented_table(spark, table)
    old = table.with_name(table.name + "._old")
    staging = table.with_name(table.name + "._staging")
    table.rename(old)
    staging.mkdir()
    (staging / "junk.parquet").write_text("not a real file")

    stats = compact_parquet(spark, table, table, sort_cols=["k"], target_rows_per_file=500)
    assert stats["rows"] == 2000
    assert stats["files_after"] <= 5
    assert spark.read.parquet(str(table)).count() == 2000
    assert not old.exists() and not staging.exists()


def test_compact_keeps_bucketed_store_layout(spark, tmp_path):
    """Compacting an ``upsert_parquet`` store in place keeps its
    ``_bucket=K`` directories and counts the files inside them, so the
    next upsert merges bucket-pruned instead of migrating a flat store."""
    from github_etl_pipeline_spark.sinks.upsert import (
        _is_bucketed_store,
        read_store,
        upsert_parquet,
    )

    store = tmp_path / "store"
    rows = spark.range(200).select(
        F.format_string("p/Pool_%04d_941.pol", "id").alias("source_file"),
        F.col("id").cast("double").alias("rtp"),
    )
    upsert_parquet(spark, rows, store)
    n_files = len(list(store.rglob("*.parquet")))

    stats = compact_parquet(spark, store, store, sort_cols=["source_file"])
    assert stats["rows"] == 200
    assert stats["files_before"] == n_files > 0
    assert 0 < stats["files_after"] <= n_files
    assert _is_bucketed_store(store)
    assert sorted(read_store(spark, store).columns) == ["rtp", "source_file"]
    assert sorted(map(tuple, read_store(spark, store).collect())) == sorted(
        map(tuple, rows.collect())
    )

    # each row still sits in the bucket its key hashes to: an update
    # replaces the row instead of adding a second copy
    upsert_parquet(spark, rows.where("rtp < 10").withColumn("rtp", F.lit(-1.0)), store)
    got = {r.source_file: r.rtp for r in read_store(spark, store).collect()}
    assert len(got) == read_store(spark, store).count() == 200
    assert sum(v == -1.0 for v in got.values()) == 10
