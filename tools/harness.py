"""The one measurement harness for ``bench.py``, ``tools/scale_probe.py``
and ``tools/check_correctness.py``: the session warm-up, the min-of-reps
timer and the contention re-run rule are each written here once, so every
published number follows the same rules.

Queries are timed through the ``noop`` sink: full execution, no collect,
no output I/O, so a reading measures the engine, not the
materialization.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Callable

import pandas as pd  # module-level: the warm-up pandas_udf's type hints
# are strings under future-annotations and resolve against module globals
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.plans import REGISTRY
from github_etl_pipeline_spark.session import get_spark, sweep_caches


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def session(app_name: str, sf_dir: str) -> SparkSession:
    """``get_spark`` plus a one-time, untimed warm-up: JVM/codegen,
    Python-worker/Arrow (a ``pandas_udf`` round trip), the parquet reader
    (``region.parquet`` under ``sf_dir``), and one full throwaway run of
    the first registry query. Without the last step the first measured
    query absorbs whole-stage-codegen/shuffle start-up: ~2 s of skew
    against an identically shaped later query, and 5.8 s vs 1.6 s steady
    for the first query of an oracle check."""
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @F.pandas_udf("double")
    def _identity(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_identity(F.col("id").cast("double"))).collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    noop(next(iter(REGISTRY.values())).builder(spark, sf_dir))
    sweep_caches(spark)
    return spark


def best_of(spark: SparkSession, build: Callable[[], DataFrame], reps: int) -> float:
    """Minimum seconds over ``reps`` noop runs of ``build()`` (plan
    construction included). Caches are swept after EVERY rep, not only
    between queries: a builder that persists a dominant intermediate (the
    k-NN graph, the shingle base, IVF cells) would otherwise serve the
    next rep from this one's cache by plan-equality lookup, and the
    minimum would be a warm-cache number (LPA at sf1: 3.8 s warm vs
    13.6 s cold)."""
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        noop(build())
        best = min(best, time.perf_counter() - t0)
        sweep_caches(spark)
    return best


def recheck(
    spark: SparkSession, build: Callable[[], DataFrame], best: float, prior: float | None
) -> tuple[float, bool]:
    """The contention rule: a reading above 1.5x its committed value
    ``prior`` gets ONE extra rep and the minimum of all observations wins
    (a transient host spike otherwise publishes a phantom regression or
    superlinear exponent). Returns the reading and whether the rep ran;
    a missing or zero ``prior`` never re-runs."""
    if not prior or best <= 1.5 * prior:
        return best, False
    return min(best, best_of(spark, build, 1)), True
