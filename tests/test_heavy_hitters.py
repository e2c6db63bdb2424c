"""Exact phi-heavy-hitters (operators/sketches.py::cms_heavy_hitters).

The CMS prune is a cost lever only — the output must equal a plain
exact GROUP BY ... HAVING count >= ceil(phi*N) on every input, because
CMS never underestimates (candidate superset) and the verify pass
re-counts exactly.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.sketches import cms_heavy_hitters


def _zipf(spark, n_keys=2_000, rows=30_000, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    ranks = rng.zipf(1.3, size=rows) % n_keys
    return spark.createDataFrame(
        pd.DataFrame({"k": [f"key{r}" for r in ranks]})
    )


def _exact(df, phi):
    n = df.count()
    tau = max(1, math.ceil(phi * n))
    return {
        (r["k"], r["cnt"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= tau)
        .collect()
    }


@pytest.mark.parametrize("phi", [0.002, 0.02])
def test_matches_exact_on_zipf(spark, phi):
    df = _zipf(spark)
    got = {(r["key"], r["cnt"]) for r in cms_heavy_hitters(df, "k", phi).collect()}
    assert got == _exact(df, phi) and got  # non-vacuous


def test_small_width_still_exact(spark):
    """A deliberately undersized sketch (width 256 << 4/phi) degrades
    PRUNING only — the verify pass keeps the answer exact."""
    df = _zipf(spark, seed=11)
    phi = 0.001
    got = {
        (r["key"], r["cnt"])
        for r in cms_heavy_hitters(df, "k", phi, width=256).collect()
    }
    assert got == _exact(df, phi)


def test_replication_invariance(spark):
    """phi-HH is stable under corpus replication: counts and tau scale
    together, so the key set is identical and counts triple."""
    df = _zipf(spark, rows=10_000, seed=3)
    phi = 0.005
    one = {r["key"]: r["cnt"] for r in cms_heavy_hitters(df, "k", phi).collect()}
    three = {
        r["key"]: r["cnt"]
        for r in cms_heavy_hitters(
            df.unionAll(df).unionAll(df), "k", phi
        ).collect()
    }
    assert set(one) == set(three)
    assert all(three[k] == 3 * v for k, v in one.items())


def test_phi_validation(spark):
    df = _zipf(spark, rows=100)
    for bad in (0.0, 1.0, -0.1, 2.0):
        with pytest.raises(ValueError, match="phi"):
            cms_heavy_hitters(df, "k", bad)


def test_candidate_prune_reaches_the_plan(spark, tmp_path):
    """The verify aggregation must sit ABOVE the sketch-estimate filter
    (element_at probes against the broadcast-literal counters), so only
    candidate occurrences are shuffled. Needs a FILE source: on a local
    relation the optimizer constant-folds the filter away entirely."""
    p = str(tmp_path / "hh.parquet")
    _zipf(spark, rows=5_000, seed=5).write.parquet(p)
    df = spark.read.parquet(p)
    plan = (
        cms_heavy_hitters(df, "k", 0.01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "element_at" in plan, plan


def test_weighted_matches_exact(spark):
    """weight_col switches occurrences to mass: output must equal the
    plain weighted HAVING at ceil(phi * total_mass)."""
    import numpy as np
    from pyspark.sql import functions as F2

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "k": [f"key{r}" for r in rng.zipf(1.4, size=20_000) % 500],
            "w": rng.integers(0, 1_000, size=20_000),
        }
    )
    df = spark.createDataFrame(pdf)
    phi = 0.01
    total = int(pdf["w"].sum())
    tau = max(1, math.ceil(phi * total))
    exact = {
        (r["k"], r["cnt"])
        for r in df.groupBy("k")
        .agg(F2.sum("w").alias("cnt"))
        .where(F2.col("cnt") >= tau)
        .collect()
    }
    got = {
        (r["key"], r["cnt"])
        for r in cms_heavy_hitters(df, "k", phi, weight_col="w").collect()
    }
    assert got == exact and got


def test_negative_weight_fails_loudly(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "w": [5, -1]}))
    with pytest.raises(Exception, match="negative weight"):
        cms_heavy_hitters(df, "k", 0.1, weight_col="w").collect()

