"""Property tests (SURVEY §5): the engine vs an INDEPENDENT pure-Python
implementation of the reference's documented semantics (re-derived from
the spec, not shared code) on randomized pool fixtures; plus invariants
(row-permutation independence, hit_freq bounds, constant-pool volatility).
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.sources.lookup import prepare_dim


def ref_semantics(values, min_bet):
    """Reference math re-derived from etl/transform.py:98-127,218-228
    (banker's rounding like numpy): rtp, hit_freq, volatility."""
    n = len(values)
    if min_bet is None or min_bet <= 0 or n == 0:
        return None, None, None
    import numpy as np

    total = sum(values)
    rtp = float(np.round(total / (n * min_bet) * 100, 2))
    hit = float(np.round(sum(1 for v in values if v > 0) / n * 100, 2))
    var = 0.0
    from collections import Counter

    for win, cnt in Counter(values).items():
        var += float(np.round((cnt / n) * (win / min_bet - rtp / 100) ** 2, 4))
    vol = float(np.round(1.645 * math.sqrt(var), 2))
    return rtp, hit, vol


def _mk_pool(rng, size, max_win, zero_frac):
    return [
        0 if rng.random() < zero_frac else rng.randint(1, max_win) for _ in range(size)
    ]


@pytest.fixture(scope="module")
def dim_agg(spark):
    dim = spark.createDataFrame(
        [("G", "1", "100", 10.0), ("G", "2", "200", 25.0), ("G", "3", "300", 40.0)],
        "Game string, Game_id string, Pool_id string, Bet double",
    )
    return prepare_dim(dim)


def _run_engine(spark, pools, dim_agg):
    rows = []
    for pid, values in pools.items():
        fn = f"Pool_{pid}_941.pol"
        rows += [
            (str(v), f"x/{fn}", fn, "x", "x", pid, "941") for v in values
        ]
    df = spark.createDataFrame(
        rows,
        "value string, source_file string, file_name string, folder_path string, "
        "parent_folder string, pool_id string, pool_type string",
    ).select(
        "source_file", "file_name", "folder_path", "parent_folder", "pool_id", "pool_type",
        F.col("value").cast("long").alias("game_win"),
    )
    out = pool_kpis(df, dim_agg=dim_agg)
    return {r.pool_id: r for r in out.collect()}


def test_random_pools_match_reference_semantics(spark, dim_agg):
    rng = random.Random(1234)
    pools = {
        "0100": _mk_pool(rng, 5000, 2500, 0.5),
        "0200": _mk_pool(rng, 3000, 100, 0.1),
        "0300": _mk_pool(rng, 800, 50000, 0.9),
    }
    bets = {"0100": 10.0, "0200": 25.0, "0300": 40.0}
    got = _run_engine(spark, pools, dim_agg)
    for pid, values in pools.items():
        rtp, hit, vol = ref_semantics(values, bets[pid])
        r = got[pid]
        assert r.rtp == pytest.approx(rtp, abs=0.011), pid
        assert r.hit_frequency == pytest.approx(hit, abs=0.011), pid
        assert r.volatility == pytest.approx(vol, abs=0.011), pid
        assert 0 <= r.hit_frequency <= 100


def test_permutation_invariance(spark, dim_agg):
    rng = random.Random(99)
    values = _mk_pool(rng, 2000, 1000, 0.4)
    shuffled = values[:]
    rng.shuffle(shuffled)
    a = _run_engine(spark, {"0100": values}, dim_agg)["0100"]
    b = _run_engine(spark, {"0100": shuffled}, dim_agg)["0100"]
    assert (a.rtp, a.hit_frequency, a.volatility) == (b.rtp, b.hit_frequency, b.volatility)


def test_constant_pool(spark, dim_agg):
    # constant pool: every line the same prize -> distribution has one
    # point mass; variance = (win/bet - rtp/100)^2 where rtp is the 2dp
    # round of the exact ratio -> volatility ~ 0 (within rounding residue)
    got = _run_engine(spark, {"0100": [250] * 1000}, dim_agg)["0100"]
    rtp, hit, vol = ref_semantics([250] * 1000, 10.0)
    assert got.rtp == rtp == 2500.0
    assert got.hit_frequency == 100.0
    assert got.volatility == vol  # engine == reference exactly
    assert got.volatility <= 0.01


def test_all_zero_pool(spark, dim_agg):
    got = _run_engine(spark, {"0100": [0] * 500}, dim_agg)["0100"]
    assert got.rtp == 0.0 and got.hit_frequency == 0.0
    assert got.volatility == 0.0
    assert got.max_win_factor == 0.0
