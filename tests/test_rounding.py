"""One rounding-mode decision (functions/rounding.py) for every KPI path:
an unknown mode raises instead of silently rounding half-up."""

import pytest

from github_etl_pipeline_spark.functions.rounding import rounder
from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.operators.rollup import aggregated_summary
from github_etl_pipeline_spark.operators.stats import pool_extended_stats


def test_rounder_modes():
    from pyspark.sql import functions as F

    assert rounder("bankers") is F.bround
    assert rounder("half_up") is F.round


@pytest.mark.parametrize("op", [aggregated_summary, pool_kpis, pool_extended_stats])
def test_unknown_rounding_mode_raises(spark, op):
    df = spark.createDataFrame(
        [("a/Pool_0201_941.pol", 100, "TB1")], "source_file string, game_win long, type_code string"
    )
    with pytest.raises(ValueError, match="banker"):
        op(df, rounding="banker")
