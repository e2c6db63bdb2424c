"""Z-order layout key (functions/zorder.py), the data skipping it gives a
sorted parquet write, and the WindowGroupLimit shape behind
top3_orders_per_priority (plans/shapes.py)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.zorder import zorder_sql


def test_zorder_interleave_exact(spark):
    # cols [x, y], bits=2: bit b of col i lands at position b*2+i
    # x=0b11, y=0b01 -> z = x0<<0 | y0<<1 | x1<<2 | y1<<3 = 1+2+4+0 = 7
    df = spark.createDataFrame([(3, 1), (0, 0), (2, 3)], "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", F.expr(zorder_sql(["x", "y"], 2)).alias("z")).collect()
    }
    assert got[(3, 1)] == 7
    assert got[(0, 0)] == 0
    # x=0b10, y=0b11 -> x0=0,y0=1,x1=1,y1=1 -> 0+2+4+8 = 14
    assert got[(2, 3)] == 14


def test_zorder_sql_validations():
    with pytest.raises(ValueError):
        zorder_sql([])
    with pytest.raises(ValueError):
        zorder_sql(["a", "b", "c", "d"], 16)  # 64 bits > BIGINT


def _per_file_ranges(path, col):
    spans = []
    for f in sorted(path.glob("*.parquet")):
        md = pq.read_metadata(f)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                    hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
        spans.append(hi - lo)
    return spans


def _range_sorted_write(df, path, key, n_files=16):
    """Range-partition and sort on ``key``, one file per partition."""
    (
        df.withColumn("_key", key)
        .repartitionByRange(n_files, "_key")
        .sortWithinPartitions("_key")
        .drop("_key")
        .write.parquet(str(path))
    )


def test_zorder_layout_tightens_both_columns(spark, tmp_path):
    """On a 128x128 grid, a z-order layout must make per-file min/max spans
    tight on BOTH columns, where a lexicographic sort on `a` leaves every
    file spanning the full `b` range — the data-skipping win z-ordering
    exists for."""
    n = 128
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("a"), (F.col("id") / n).cast("long").alias("b")
    )
    lex_out = tmp_path / "lex"
    z_out = tmp_path / "zord"
    _range_sorted_write(grid, lex_out, F.col("a"))
    _range_sorted_write(grid, z_out, F.expr(zorder_sql(["a", "b"], 7)))

    lex_b = _per_file_ranges(lex_out, "b")
    z_b = _per_file_ranges(z_out, "b")
    z_a = _per_file_ranges(z_out, "a")
    assert len(z_b) >= 8
    # lexicographic: every file spans ~the whole b domain
    assert sum(lex_b) / len(lex_b) > 0.9 * (n - 1)
    # z-order: files cover sub-squares — BOTH columns' spans shrink hard
    assert sum(z_b) / len(z_b) < 0.5 * (n - 1)
    assert sum(z_a) / len(z_a) < 0.5 * (n - 1)


def test_top3_plan_uses_window_group_limit(spark):
    from github_etl_pipeline_spark.plans import REGISTRY

    df = REGISTRY["top3_orders_per_priority"].builder(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
