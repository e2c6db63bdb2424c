"""F1 classification truth table (reference etl/transform.py:130-162)."""

from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.classify import (
    is_flat_sql,
    max_multiplier_sql,
    tag_sql,
)

CASES = [
    # (pool_type, tag, is_flat, max_multiplier)
    ("395", ["GAB", "PFB"], 0, None),
    ("50940020", ["PFB"], 0, None),
    ("550940020", ["PFB"], 0, None),
    ("40920160", ["REG"], 1, "0160"),
    ("941", ["REG"], 0, None),
    ("1401", ["REG"], 0, None),   # len 4: NOT > 4, so REG / not flat
    ("51234", ["PFB"], 0, None),
    ("41234", ["REG"], 1, "1234"),
    (None, ["UNKNOWN"], 0, None),
    ("", ["UNKNOWN"], 0, None),   # falsy check: '' behaves like None
]


def test_classify_truth_table(spark):
    df = spark.createDataFrame([(c[0],) for c in CASES], "pool_type string")
    got = df.select(
        "pool_type",
        F.expr(tag_sql("pool_type")).alias("tag"),
        F.expr(is_flat_sql("pool_type")).alias("is_flat"),
        F.expr(max_multiplier_sql("pool_type")).alias("mm"),
    ).collect()
    by_pt = {r.pool_type: r for r in got}
    for pt, tag, flat, mm in CASES:
        r = by_pt[pt]
        assert r.tag == tag, (pt, r.tag)
        assert r.is_flat == flat, (pt, r.is_flat)
        assert r.mm == mm, (pt, r.mm)
