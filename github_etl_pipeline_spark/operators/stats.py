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

Execution shape: same single (pool, game_win, type_code, bucket) style
aggregates as the KPI path — everything reduces via partial aggregation
before shuffling; the first/last-k sample is a window over a top-k-
filtered projection, not a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.rounding import rounder
from github_etl_pipeline_spark.sources.pol import POOL_KEY_COLS, decode_uri_path, pool_identity

# README.md:94-98 bucket edges: 0-500, 501-1000, 1001-2000, then wider
BUCKET_EDGES = [500, 1000, 2000, 5000, 10000]


def _bucket_expr(col):
    """The R14 value bucket of an integer ``col``: ``<0``, then one
    ``lo-hi`` label per edge, then ``10001+``."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.when(c < 0, "<0")
    lo = 0
    for hi in BUCKET_EDGES:
        out = out.when(c <= hi, f"{lo}-{hi}")
        lo = hi + 1
    return out.otherwise(f"{BUCKET_EDGES[-1] + 1}+")


def pool_extended_stats(parsed: DataFrame, k: int = 10, rounding: str = "bankers") -> DataFrame:
    """parsed — output of ``parse_pol_lines(..., keep_invalid=False)`` with
    an ``_order`` column when first/last-k sampling is wanted (see
    ``parse_pol_lines``'s ``with_order`` flag)."""
    rnd = rounder(rounding)

    # keyed on source_file alone (URI form); the other pool key columns
    # are derived from it once per pool at the end, as in pool_kpis
    summary = parsed.groupBy("source_file").agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum("game_win").alias("total_sum"),
        F.min("game_win").alias("min_value"),
        F.max("game_win").alias("max_value"),
        rnd(F.avg("game_win"), 2).alias("avg_value"),
        F.median("game_win").alias("median_value"),
        rnd(F.stddev("game_win"), 2).alias("std_value"),
        F.count_distinct("type_code").alias("unique_types"),
    )

    # R12 + R13 from ONE (pool, type_code) aggregate
    td = parsed.where(F.col("type_code").isNotNull()).groupBy("source_file", "type_code").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("game_win").alias("tsum"),
        F.min("game_win").alias("tmin"),
        F.max("game_win").alias("tmax"),
        rnd(F.avg("game_win"), 2).alias("tavg"),
    )
    type_stats = td.groupBy("source_file").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("type_code", "cnt")))
        ).alias("type_distribution"),
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cnt"),
                        F.col("type_code"),
                        F.col("tsum").alias("total"),
                        F.col("tmin").alias("min"),
                        F.col("tmax").alias("max"),
                        F.col("tavg").alias("avg"),
                    )
                )
            )
        ).alias("_ts"),
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
                s["avg"].alias("avg"),
                F.round(s["cnt"] * 100.0 / F.col("_typed_records"), 2).alias("pct"),
            ),
        ).alias("type_statistics"),
    )

    # R14 histogram from one (pool, bucket) aggregate
    vb = parsed.groupBy("source_file", _bucket_expr("game_win").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = vb.groupBy("source_file").agg(
        F.array_sort(F.collect_list(F.struct("bucket", "cnt"))).alias("_hb"),
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

    if "_order" in parsed.columns:
        wf = Window.partitionBy("source_file").orderBy(F.col("_order").asc())
        wl = Window.partitionBy("source_file").orderBy(F.col("_order").desc())
        ranked = parsed.select(
            "source_file",
            "game_win",
            "_order",
            F.row_number().over(wf).alias("_rf"),
            F.row_number().over(wl).alias("_rl"),
        ).where((F.col("_rf") <= k) | (F.col("_rl") <= k))
        samples = ranked.groupBy("source_file").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("_rf") <= k, F.struct("_order", "game_win")))
                ),
                lambda s: s["game_win"],
            ).alias("first_k"),
            F.reverse(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("_rl") <= k, F.struct("_rl", "game_win")))
                    ),
                    lambda s: s["game_win"],
                )
            ).alias("last_k"),
        )
        out = out.join(samples, "source_file", "left")

    # per-pool output keys are decoded paths, as in pool_kpis
    out = pool_identity(out.withColumn("source_file", decode_uri_path("source_file")))
    return out.select(*POOL_KEY_COLS, *[c for c in out.columns if c not in POOL_KEY_COLS])


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
