"""Loaders for the driver-generated parquet test tables (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table.

    The driver regenerates the testdata between rounds and the physical
    type of ``events.ts`` has flipped across regenerations: parquet
    TIMESTAMP(NANOS) (rejected by Spark's vectorized reader unless the
    legacy conf maps it to LongType nanos) vs ``timestamp[us]`` (read as
    TIMESTAMP_NTZ). We keep the legacy conf on so nano files load, and
    NEVER assume the resolved dtype downstream — all event-time epoch
    math goes through ``functions.epoch.event_micros``, which dispatches
    on the column's actual type. tests/test_schema_smoke.py analyzes
    every registered query against the on-disk testdata to catch the
    next physical-type drift at pytest speed."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition up to machine parallelism ONLY when the scan is
    under-parallel (single small file / one parquet row group = 1 scan
    task): heavy per-row plans (regex chains, multi-distinct Expand)
    otherwise run their partial phase on one core. At fleet scale the
    many input files already provide the parallelism and the gate makes
    this a no-op — no gratuitous full shuffle of the corpus."""
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)
