from github_etl_pipeline_spark.functions.keys import normalize_pool_id
from github_etl_pipeline_spark.functions.rounding import rounder

__all__ = ["normalize_pool_id", "rounder"]
