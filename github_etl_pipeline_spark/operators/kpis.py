"""Per-pool KPI aggregation: size, total win, RTP, hit frequency,
volatility@90%CI, max_win_factor, classification.

Reference semantics (etl/transform.py:165-258 + calculate_volatility
:98-127 + output-only max_win_factor, SURVEY §0.1/§2.4):

  size        = row count after lenient parse                      (A1)
  total_win   = sum(game_win)                                      (A2)
  rtp         = round(total_win / (size*min_bet) * 100, 2)         (A3)
  hit_freq    = round(count(game_win>0) / size * 100, 2)           (A4)
  volatility  = round(1.645 * sqrt(sum_i round(f_i*(w_i/bet - rtp/100)^2, 4)), 2)
                over the distinct-value distribution (A5+A6); the per-term
                4dp round is observable reference behavior and reproduced
  max_win_factor = max(game_win) / min_bet                         (A7)
  all metrics NULL unless min_bet > 0 and size > 0                 (P5)

Execution shape (the 100-TB story): the ONLY full-data shuffle is
``groupBy(source_file, game_win).count()`` — with partial (map-side)
aggregation this reduces ~1M rows/pool to the pool's distinct-prize-value
cardinality (~30 rows observed in the reference corpus) before any
network transfer. The key is ``source_file`` alone, in the URI form the
scan lists it in; the distribution decodes it after the shuffle, and the
other pool key columns come from ``sources.pol.pool_identity`` once per
pool. Everything after operates on that tiny ``dist`` relation: per-pool
stats, the rtp-dependent variance pass (a second agg over dist), the
dimension broadcast join. At 1000 executors the scan dominates; the
shuffle payload is ~#pools x #distinct_values rows regardless of input
size. ``dist`` is persisted for the two passes; ``release_pool_kpis``
drops it once the caller is done with the records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.keys import normalize_pool_id, reference_match_expr
from github_etl_pipeline_spark.functions.rounding import rounder
from github_etl_pipeline_spark.operators.classify import (
    is_flat_expr,
    max_multiplier_expr,
    tag_expr,
)
from github_etl_pipeline_spark.sources.pol import POOL_KEY_COLS, decode_uri_path, pool_identity

Z_90_CI = 1.645


def pool_distribution(parsed: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """(pool, game_win) -> cnt. The single large shuffle (A5)."""
    key_cols = key_cols or POOL_KEY_COLS
    return parsed.groupBy(*key_cols, "game_win").agg(F.count(F.lit(1)).alias("cnt"))


def _source_file_distribution(parsed: DataFrame) -> DataFrame:
    """``pool_distribution`` keyed on ``source_file`` alone, decoded after
    the shuffle: every other pool key column is a string function of
    ``source_file``, so the map-side hash agg hashes one string per line
    instead of six, and the decode runs once per (pool, value) row."""
    dist = pool_distribution(parsed.select("source_file", "game_win"), ["source_file"])
    return dist.withColumn("source_file", decode_uri_path(F.col("source_file")))


def release_pool_kpis(parsed: DataFrame) -> None:
    """Drop the distribution cache that ``pool_kpis(parsed)`` persisted.
    Spark finds cache entries by plan, so rebuilding the same plan and
    unpersisting it releases the entry without a handle to it."""
    _source_file_distribution(parsed).unpersist()


def pool_kpis(
    parsed: DataFrame,
    dim_agg: DataFrame | None = None,
    rounding: str = "bankers",
    with_processed_at: bool = True,
) -> DataFrame:
    """Full per-pool KPI record from parsed lines.

    parsed     — output of ``parse_pol_lines`` (anything with
                 ``source_file`` + ``game_win``); with ``keep_invalid=True``
                 unparseable lines count in ``line_count`` and a file with
                 no valid line still gets a size=0 record.
    dim_agg    — output of ``prepare_dim`` (norm_pool_id, min_bet, game_ids);
                 broadcast-joined. None -> all lookup-dependent metrics NULL.
    rounding   — 'bankers' (reference parity) or 'half_up' (DuckDB parity).

    The distribution this persists is released by ``release_pool_kpis``.
    """
    rnd = rounder(rounding)

    # The single large shuffle. dist is tiny (#pools x distinct prize
    # values, +1 NULL group per pool in single-pass mode) — persist it so
    # the stats pass and the rtp-dependent variance pass don't each
    # re-scan the raw data.
    dist = _source_file_distribution(parsed).persist()
    valid = F.col("game_win").isNotNull()
    stats = dist.groupBy("source_file").agg(
        F.sum(F.col("cnt")).alias("line_count"),
        F.coalesce(F.sum(F.when(valid, F.col("cnt"))), F.lit(0)).alias("size"),
        F.sum(F.when(valid, F.col("game_win") * F.col("cnt"))).alias("total_win"),
        F.coalesce(
            F.sum(F.when(valid & (F.col("game_win") > 0), F.col("cnt"))), F.lit(0)
        ).alias("hits"),
        F.max("game_win").alias("max_win"),
    )
    stats = pool_identity(stats)

    if dim_agg is not None:
        stats = stats.join(
            F.broadcast(dim_agg.select("norm_pool_id", "dim_pool_id", "min_bet", "game_ids")),
            normalize_pool_id(F.col("pool_id")) == F.col("norm_pool_id"),
            "left",
        )
        # post-join gate restoring the reference's asymmetric 3-stage
        # fallback (see functions/keys.py): normalized-key matches the
        # reference would NOT have made (fact '00201' / '201' vs dim
        # '0201') revert to lookup-miss semantics
        matched = reference_match_expr(F.col("pool_id"), F.col("dim_pool_id"))
        stats = (
            stats.withColumn("min_bet", F.when(matched, F.col("min_bet")))
            .withColumn("game_ids", F.when(matched, F.col("game_ids")))
            .drop("norm_pool_id", "dim_pool_id")
        )
    else:
        stats = stats.withColumn("min_bet", F.lit(None).cast("double")).withColumn(
            "game_ids", F.lit(None).cast("array<string>")
        )
    stats = stats.withColumn("game_ids", F.coalesce("game_ids", F.array()))

    gate = F.col("min_bet").isNotNull() & (F.col("min_bet") > 0) & (F.col("size") > 0)
    kpi = stats.select(
        *POOL_KEY_COLS,
        "line_count",
        "size",
        "total_win",
        "max_win",
        "min_bet",
        "game_ids",
        F.when(gate, rnd(F.col("total_win") / (F.col("size") * F.col("min_bet")) * 100, 2))
        .alias("rtp"),
        F.when(gate, rnd(F.col("hits") / F.col("size") * 100, 2)).alias("hit_frequency"),
        F.when(
            F.col("min_bet").isNotNull() & (F.col("min_bet") > 0) & F.col("max_win").isNotNull(),
            F.col("max_win") / F.col("min_bet"),
        ).alias("max_win_factor"),
    )

    # Volatility: second pass over the tiny dist relation with the
    # pool-level (size, min_bet, rtp) attached. AQE broadcasts the smaller
    # side at runtime; both inputs are #pools-scale, never raw-data-scale.
    pool_ctx = kpi.where(F.col("rtp").isNotNull()).select(
        "source_file", F.col("size").alias("_n"), F.col("min_bet").alias("_bet"), F.col("rtp").alias("_rtp")
    )
    # square via multiplication, not pow(): bit-deterministic across
    # engines/libm implementations (matters for the DuckDB oracle compare)
    diff = F.col("game_win") / F.col("_bet") - F.col("_rtp") / 100
    var_term = rnd((F.col("cnt") / F.col("_n")) * diff * diff, 4)
    vols = (
        dist.where(F.col("game_win").isNotNull())
        .select("source_file", "game_win", "cnt")
        .join(pool_ctx, "source_file")
        .groupBy("source_file")
        .agg(rnd(F.lit(Z_90_CI) * F.sqrt(F.sum(var_term)), 2).alias("volatility"))
    )
    out = kpi.join(vols, "source_file", "left")

    out = out.select(
        F.col("file_name").alias("pool_name"),
        *out.columns,
        tag_expr("pool_type").alias("tag"),
        is_flat_expr("pool_type").alias("is_flat"),
        max_multiplier_expr("pool_type").alias("max_multiplier"),
    )
    if with_processed_at:
        out = out.withColumn("processed_at", F.current_timestamp())
    return out
