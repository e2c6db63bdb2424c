"""Frequent-itemset mining: Apriori prune exactness, rule metrics,
basket-size skew guard (operators/itemsets.py)."""

import math

import pandas as pd
import pytest

from github_etl_pipeline_spark.operators.itemsets import frequent_pairs

# 6 baskets: x,y co-occur in 3; z is rare (1 basket); duplicates inside a
# basket must not inflate counts.
ROWS = [
    (1, "x"), (1, "y"), (1, "x"),          # dup x
    (2, "x"), (2, "y"),
    (3, "x"), (3, "y"), (3, "z"),
    (4, "x"),
    (5, "y"),
    (6, "w"), (6, "x"),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(pd.DataFrame(ROWS, columns=["b", "i"]))


def test_frequent_pairs_metrics(spark, df):
    out = frequent_pairs(df, "b", "i", min_support=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["pair_cnt"]) == ("x", "y", 3)
    assert r["support"] == round(3 / 6, 6)
    assert r["conf_a_b"] == round(3 / 5, 6)
    assert r["conf_b_a"] == round(3 / 4, 6)
    assert r["lift"] == round((3 / 5) / (4 / 6), 6)


def test_pair_with_pruned_member_absent(spark, df):
    # (x,z) co-occurs once: support 1/6 < 1/3 -> absent even at the pair
    # threshold that would admit it if z survived (monotonicity: pruning
    # z cannot remove any ACTUALLY frequent pair).
    pairs = {(r["item_a"], r["item_b"]): r["pair_cnt"]
             for r in frequent_pairs(df, "b", "i", min_support=1 / 3).collect()}
    assert ("x", "z") not in pairs
    assert pairs[("x", "y")] == 3


def test_exhaustive_parity_small(spark, df):
    # brute-force all pairs in pandas and compare at a low threshold
    pdf = pd.DataFrame(ROWS, columns=["b", "i"]).drop_duplicates()
    n = pdf["b"].nunique()
    minc = math.ceil(n / 6)
    sets = pdf.groupby("b")["i"].apply(set)
    cnt: dict = {}
    for s in sets:
        for a in s:
            for b2 in s:
                if a < b2:
                    cnt[(a, b2)] = cnt.get((a, b2), 0) + 1
    item_cnt = pdf.groupby("i")["b"].nunique()
    expect = {
        p: c
        for p, c in cnt.items()
        if c >= minc and item_cnt[p[0]] >= minc and item_cnt[p[1]] >= minc
    }
    got = {
        (r["item_a"], r["item_b"]): r["pair_cnt"]
        for r in frequent_pairs(df, "b", "i", min_support=1 / 6).collect()
    }
    assert got == expect


def test_max_basket_items_guard(spark):
    rows = [(1, f"i{k}") for k in range(10)] + [(2, "i0"), (2, "i1"), (3, "i0"), (3, "i1")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["b", "i"]))
    # with the 10-item basket 1 dropped, n_baskets = 2 and (i0,i1) is the
    # only pair
    out = frequent_pairs(df, "b", "i", min_support=0.9, max_basket_items=5).collect()
    assert [(r["item_a"], r["item_b"], r["pair_cnt"]) for r in out] == [("i0", "i1", 2)]
    # without the guard basket 1 counts: 3 baskets, and (i0,i1) is in all 3
    out = frequent_pairs(df, "b", "i", min_support=0.9).collect()
    assert [(r["item_a"], r["item_b"], r["pair_cnt"]) for r in out] == [("i0", "i1", 3)]
