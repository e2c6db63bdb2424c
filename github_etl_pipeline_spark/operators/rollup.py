"""Fleet-level rollup over the per-pool KPI records (reference A8/A9,
etl/transform.py:261-322 ``generate_aggregated_summary``).

One single-row DataFrame with:
  total_files_processed, total_records_across_all_files,
  tags_distribution (map<string,long> — explode of the tag arrays),
  files_by_folder  (map<string,long>),
  rtp_stats / volatility_stats (struct min,max,avg-2dp over non-null values)

Deviation (documented, SURVEY §0.1): the reference reads
``metadata.parent_folder`` which its own transform never writes, so its
files_by_folder always collapses to {"root": N}; we group by the actual
parent folder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.rounding import rounder


def aggregated_summary(pools: DataFrame, rounding: str = "bankers") -> DataFrame:
    rnd = rounder(rounding)

    def _stats(col: str) -> F.Column:
        return F.when(
            F.count(col) > 0,
            F.struct(
                F.min(col).alias("min"),
                F.max(col).alias("max"),
                rnd(F.avg(col), 2).alias("avg"),
            ),
        )

    base = pools.agg(
        F.count(F.lit(1)).alias("total_files_processed"),
        F.sum(F.coalesce("size", F.lit(0))).alias("total_records_across_all_files"),
        _stats("rtp").alias("rtp_stats"),
        _stats("volatility").alias("volatility_stats"),
    )
    tags = (
        pools.select(F.explode("tag").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.map_from_entries(F.array_sort(F.collect_list(F.struct("t", "c")))).alias("tags_distribution"))
    )
    folders = (
        pools.groupBy(F.coalesce("parent_folder", F.lit("root")).alias("f"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.map_from_entries(F.array_sort(F.collect_list(F.struct("f", "c")))).alias("files_by_folder"))
    )
    return (
        base.crossJoin(tags)
        .crossJoin(folders)
        .withColumn("generated_at", F.current_timestamp())
    )
