"""github_etl_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the query and data-processing
capabilities of the reference `github-etl-pipeline` (slot-machine pool
distribution analytics: RTP / volatility / hit-frequency KPIs over `.pol`
prize-distribution files), extended with large-scale training-data pipeline
operators (deduplication, similarity search, text analysis, multimodal
column plumbing).

Design principles (see README):
  * One DataFrame of all pool lines; pool identity is a set of grouping
    columns, not a per-file loop (reference: etl/main.py:103-118 iterates
    files sequentially).
  * Declarative plans only — built-in `pyspark.sql.functions`, no
    row-at-a-time Python UDFs in any hot path; Catalyst/AQE pick physical
    strategy.
  * The per-pool distribution aggregate `(pool, game_win) -> count` is the
    single large shuffle; everything downstream (KPIs, volatility, fleet
    rollups) operates on that tiny intermediate (dozens of distinct prize
    values per million-row pool).

Public API mirrors the reference's 3-stage seam (etl/__init__.py:8-18):
extract -> transform -> load, with DataFrame as the IR between stages.
"""

from github_etl_pipeline_spark.session import get_spark
from github_etl_pipeline_spark.sources.pol import (
    read_pol_lines,
    parse_pol_lines,
)
from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim
from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.operators.rollup import aggregated_summary
from github_etl_pipeline_spark.pipeline import run_pipeline

__all__ = [
    "get_spark",
    "read_pol_lines",
    "parse_pol_lines",
    "load_game_lookup",
    "prepare_dim",
    "pool_kpis",
    "aggregated_summary",
    "run_pipeline",
]

__version__ = "0.1.0"
