"""Fellegi-Sunter record linkage (operators/linkage.py): comparator
math, weight validation, end-to-end precision/recall on a seeded pair
set, and the registered query's ground truth."""

import math

import pandas as pd
import pytest

from github_etl_pipeline_spark.operators.linkage import (
    char_ngram_set,
    fs_score,
    fs_weights,
    jaccard_sim_grams,
    link_blocked,
)
from pyspark.sql import functions as F


def jaccard_sim(a_col, b_col, n=3):
    """Character-n-gram Jaccard of two string columns, grams built per side."""
    return jaccard_sim_grams(char_ngram_set(a_col, n), char_ngram_set(b_col, n))


def test_fs_weights():
    wa, wd = fs_weights(0.9, 0.1)
    assert wa == round(math.log2(9.0), 6)
    assert wd == round(math.log2(0.1 / 0.9), 6)
    for m, u in [(0.5, 0.5), (0.1, 0.9), (1.0, 0.1), (0.9, 0.0)]:
        with pytest.raises(ValueError):
            fs_weights(m, u)


def test_jaccard_sim_known(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": ["abcdef", "abc", "ab", "xyz"],
                "b": ["abcdef", "abcd", "ab", "abc"],
            }
        )
    )
    got = [r["j"] for r in df.select(jaccard_sim("a", "b").alias("j")).collect()]
    # identical: 1.0; abc (1 gram) vs abcd (2 grams, share abc): 1/2;
    # short strings (<3) fall back to whole-string grams: equal -> 1.0;
    # disjoint -> 0.0
    assert got == [1.0, 0.5, 1.0, 0.0]


def test_fs_score_and_threshold(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2], "y": [1, 9]}))
    agree = F.col("x") == F.col("y")
    s = df.select(fs_score([(agree, 0.9, 0.1)]).alias("s")).collect()
    wa, wd = fs_weights(0.9, 0.1)
    assert sorted(r["s"] for r in s) == sorted([round(wa, 6), round(wd, 6)])


def test_link_blocked_end_to_end(spark):
    # 3 true pairs + 1 same-block impostor; blocking drops cross-block
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "lid": [1, 2, 3, 4],
                "blk": ["a", "a", "b", "c"],
                "name": ["alice smith", "bob jones", "carol wu", "dan poe"],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "rid": [11, 12, 13, 14],
                "blk": ["a", "a", "b", "z"],  # 14 blocked away from dan
                "rname": ["alice smyth", "completely other", "carol wu", "dan poe"],
            }
        )
    )
    agree = jaccard_sim("name", "rname") >= F.lit(0.4)
    out = link_blocked(
        left, right, ["blk"], fs_score([(agree, 0.95, 0.02)]), 3.0,
        select=["lid", "rid", "score"],
    ).collect()
    got = sorted((r["lid"], r["rid"]) for r in out)
    # alice~alice (typo) and carol==carol pass; bob vs "completely other"
    # scores the disagreement weight; dan's twin is in another block
    assert got == [(1, 11), (3, 13)]


def test_registered_ground_truth(spark):
    from github_etl_pipeline_spark.plans import REGISTRY

    out = (
        REGISTRY["record_linkage_customers"]
        .builder(spark, "/root/testdata/sf0.001")
        .toPandas()
    )
    # every 7th customer is corrupted; EVERY corrupted row must link back
    # to exactly its original (perfect recall AND precision on the seed)
    assert (out.right_id - out.left_id == 1000000).all()
    assert (out.left_id % 7 == 0).all()
    import duckdb

    n = duckdb.connect().execute(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/customer.parquet' "
        "WHERE c_custkey % 7 = 0"
    ).fetchone()[0]
    assert len(out) == n
    assert (out.agree_addr == 1).all() and (out.agree_bal == 1).all()
