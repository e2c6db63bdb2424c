"""Extended per-pool statistics — the README-era output surface
(README.md:53-105; R10, R12-R15 in SURVEY §2.4) that the reference's
current transform no longer computes but its load stage still reads.

One row per pool with:
  summary            struct(total_records, total_sum, min/max/avg/median/
                     std of game_win, unique_types)
  type_distribution  map<type_code, count>                        (R12)
  type_statistics    array<struct(type_code, count, total, min, max, avg,
                     pct_of_records)> sorted by count desc         (R13)
  value_distribution array<struct(bucket, count, pct)>             (R14)
  first_k / last_k   array<long> in file order                     (R15)

Execution shape: the input is ``sources.pol``'s one reader, a row per
distinct valid text of a pool file with its line count ``cnt``, so every
aggregate is weighted by ``cnt`` (the median is ``percentile(game_win,
0.5, cnt)``, what ``median`` gives on per-line rows) and no operator sees
a line. Three aggregates — per pool, per (pool, type_code) and per (pool,
bucket) — are joined on the pool. The per-pool one also collects the
pool's ``(game_win, cnt)`` pairs, for a two-pass standard deviation, and
each text's first and last ``K`` line indexes, whose ``K`` smallest and
largest give first_k and last_k. The pairs list holds one element per
distinct text and the index list at most ``2 * K``, never one per line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.rounding import rounder
from github_etl_pipeline_spark.sources.pol import (
    K,
    POOL_KEY_COLS,
    decode_uri_path,
    pool_identity,
)

# README.md:94-98 bucket edges: 0-500, 501-1000, 1001-2000, then wider
BUCKET_EDGES = [500, 1000, 2000, 5000, 10000]


def _bucket_expr(col: str) -> str:
    """SQL text: the R14 value bucket of an integer column ``col``:
    ``<0``, then one ``lo-hi`` label per edge, then ``10001+``."""
    out, lo = f"CASE WHEN {col} < 0 THEN '<0'", 0
    for hi in BUCKET_EDGES:
        out += f" WHEN {col} <= {hi} THEN '{lo}-{hi}'"
        lo = hi + 1
    return f"{out} ELSE '{lo}+' END"


def pool_extended_stats(parsed: DataFrame, rounding: str = "bankers") -> DataFrame:
    """parsed — ``parse_pol_lines(read_pol_lines(...))``: the valid texts
    of each pool file with their ``cnt`` and ``positions``."""
    rnd = rounder(rounding)
    n = F.col("total_records")
    mean = F.col("total_sum") / n
    # keyed on source_file alone (URI form); the other pool key columns
    # are derived from it once per pool at the end, as in pool_kpis
    summary = parsed.groupBy("source_file").agg(
        F.expr("sum(cnt) AS total_records"),
        F.expr("sum(game_win * cnt) AS total_sum"),
        F.min("game_win").alias("min_value"),
        F.max("game_win").alias("max_value"),
        F.expr("percentile(game_win, 0.5, cnt) AS median_value"),
        F.count_distinct("type_code").alias("unique_types"),
        F.expr("collect_list(struct(game_win, cnt)) AS _dist"),
        F.expr(
            "array_sort(flatten(collect_list(transform(positions, p -> struct(p, game_win)))))"
            " AS _at"
        ),
    )
    # two-pass sample standard deviation over the (game_win, cnt) pairs;
    # square via multiplication, not pow(), as in pool_kpis' volatility
    squares = F.aggregate(
        "_dist",
        F.lit(0.0),
        lambda acc, x: acc + x["cnt"] * (x["game_win"] - mean) * (x["game_win"] - mean),
    )
    summary = summary.select(
        "source_file",
        "total_records",
        "total_sum",
        "min_value",
        "max_value",
        rnd(mean, 2).alias("avg_value"),
        "median_value",
        F.when(n > 1, rnd(F.sqrt(squares / (n - 1)), 2)).alias("std_value"),
        "unique_types",
        "_at",
    )

    # R12 + R13 from ONE (pool, type_code) aggregate
    td = parsed.where("type_code IS NOT NULL").groupBy("source_file", "type_code").agg(
        F.expr("sum(cnt) AS cnt"),
        F.expr("sum(game_win * cnt) AS total"),
        F.min("game_win").alias("min"),
        F.max("game_win").alias("max"),
    )
    type_stats = td.groupBy("source_file").agg(
        F.expr(
            "map_from_entries(array_sort(collect_list(struct(type_code, cnt))))"
            " AS type_distribution"
        ),
        F.expr("reverse(array_sort(collect_list(struct(cnt, type_code, total, min, max)))) AS _ts"),
        F.sum("cnt").alias("_typed_records"),
    )
    type_stats = type_stats.select(
        "source_file",
        "type_distribution",
        F.transform(
            "_ts",
            lambda s: F.struct(
                s["type_code"].alias("type_code"),
                s["cnt"].alias("count"),
                s["total"].alias("total"),
                s["min"].alias("min"),
                s["max"].alias("max"),
                rnd(s["total"] / s["cnt"], 2).alias("avg"),
                F.round(s["cnt"] * 100.0 / F.col("_typed_records"), 2).alias("pct"),
            ),
        ).alias("type_statistics"),
    )

    # R14 histogram from one (pool, bucket) aggregate
    vb = parsed.groupBy("source_file", F.expr(f"{_bucket_expr('game_win')} AS bucket")).agg(
        F.expr("sum(cnt) AS cnt")
    )
    hist = vb.groupBy("source_file").agg(
        F.expr("array_sort(collect_list(struct(bucket, cnt))) AS _hb"),
        F.sum("cnt").alias("_n"),
    )
    hist = hist.select(
        "source_file",
        F.transform(
            "_hb",
            lambda s: F.struct(
                s["bucket"].alias("bucket"),
                s["cnt"].alias("count"),
                F.round(s["cnt"] * 100.0 / F.col("_n"), 2).alias("pct"),
            ),
        ).alias("value_distribution"),
    )

    out = summary.join(type_stats, "source_file", "left").join(hist, "source_file", "left")
    # per-pool output keys are decoded paths, as in pool_kpis
    out = pool_identity(out.withColumn("source_file", decode_uri_path("source_file")))
    # R15: the game_win of the pool's K first and K last valid lines
    return out.selectExpr(
        *POOL_KEY_COLS,
        *[c for c in out.columns if c not in POOL_KEY_COLS and c != "_at"],
        f"transform(slice(_at, 1, {K}), s -> s.game_win) AS first_k",
        f"transform(slice(_at, greatest(size(_at) - {K - 1}, 1), {K}), s -> s.game_win) AS last_k",
    )


def streak_summary(
    df: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Gaps-and-islands: per key, runs of CONSECUTIVE integer sequence
    values (days, hours, epochs — caller buckets first). Output one row
    per key: (keys..., n_active, n_streaks, longest_streak,
    longest_streak_start) where longest_streak_start is the sequence
    value opening the earliest longest run (deterministic tie-break).

    The classic formulation: within a key, distinct sequence values get
    row_number(); ``seq - rn`` is constant exactly along a consecutive
    run, so grouping by it labels the islands with zero self-joins.

    Scale shape: distinct (key, seq) is one shuffle; the row_number
    window repartitions on the key alone (second, post-dedup exchange
    over the already-collapsed narrow relation — |keys x active seqs|
    rows, not corpus rows); the island groupBy and the final per-key
    rollup both ride the window's hash(key) partitioning, so no further
    exchange. Heavy keys cost one sort of their active-seq list, never
    an array collect.
    """
    keys = [F.col(c) for c in key_cols]
    d = df.select(*keys, F.col(seq_col).cast("long").alias("_seq")).distinct()
    w = Window.partitionBy(*key_cols).orderBy(F.col("_seq").asc())
    grp = (F.col("_seq") - F.row_number().over(w)).alias("_grp")
    islands = (
        d.select(*keys, "_seq", grp)
        .groupBy(*key_cols, "_grp")
        .agg(
            F.count(F.lit(1)).alias("_len"),
            F.min("_seq").alias("_start"),
        )
    )
    w2 = Window.partitionBy(*key_cols).orderBy(
        F.col("_len").desc(), F.col("_start").asc()
    )
    ranked = islands.withColumn("_rk", F.row_number().over(w2))
    return ranked.groupBy(*key_cols).agg(
        F.sum("_len").alias("n_active"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("_len").alias("longest_streak"),
        F.min(F.when(F.col("_rk") == 1, F.col("_start"))).alias(
            "longest_streak_start"
        ),
    )
