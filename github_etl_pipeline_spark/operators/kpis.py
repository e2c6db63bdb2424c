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

Execution shape (the 100-TB story): no Spark operator sees a line.
``sources.pol.count_pol_files`` counts each file's lines per raw text in
one Arrow pass at the scan leaf, so ~1M lines/pool reach Spark as the
pool's few dozen distinct texts (~30 in the reference corpus), and the
tokenizer runs once per distinct text. ``pool_distribution`` regroups
those counts by ``(source_file, game_win)`` (a plain ``parse_pol_lines``
frame is counted there instead). The key is ``source_file`` alone, in
the URI form the scan lists it in. ONE per-pool aggregate over that distribution
yields the pool stats and collects the pool's valid ``(game_win, cnt)``
pairs; the key is decoded and the other pool key columns come from
``sources.pol.pool_identity`` once per pool; after the broadcast join
of the prepared dimension (a local relation, so no job), volatility is
a per-row fold over the collected pairs. The plan is lazy and side-effect
free: nothing is cached, so there is nothing to release. The collected
array holds one element per distinct valid prize value, so it is never
longer than the pool's line count — the same per-file bound as the
reference's whole-file read (etl/extract.py:152). At 1000 executors the
scan dominates; the shuffle payload is ~#pools x #distinct_texts rows
regardless of input size.
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
    """(pool, game_win) -> cnt (A5). Rows that already carry a ``cnt``
    (``count_pol_files``) add it; any other row counts once."""
    key_cols = key_cols or POOL_KEY_COLS
    n = F.sum("cnt") if "cnt" in parsed.columns else F.count(F.lit(1))
    return parsed.groupBy(*key_cols, "game_win").agg(n.alias("cnt"))


def pool_kpis(
    parsed: DataFrame,
    dim_agg: DataFrame | None = None,
    rounding: str = "bankers",
    with_processed_at: bool = True,
) -> DataFrame:
    """Full per-pool KPI record from parsed lines.

    parsed     — output of ``parse_pol_lines`` or ``count_pol_files``
                 (anything with ``source_file`` + ``game_win``, and
                 optionally a ``cnt`` of lines per row); with
                 ``keep_invalid=True`` / ``count_pol_files`` unparseable
                 lines count in ``line_count`` and a file with no valid
                 line still gets a size=0 record.
    dim_agg    — output of ``prepare_dim`` (norm_pool_id, min_bet, game_ids);
                 broadcast-joined. None -> all lookup-dependent metrics NULL.
    rounding   — 'bankers' (reference parity) or 'half_up' (DuckDB parity).
    """
    rnd = rounder(rounding)

    # Everything after this aggregate is pool-cardinality.
    dist = pool_distribution(parsed, ["source_file"])
    valid = F.col("game_win").isNotNull()
    stats = dist.groupBy("source_file").agg(
        F.sum(F.col("cnt")).alias("line_count"),
        F.coalesce(F.sum(F.when(valid, F.col("cnt"))), F.lit(0)).alias("size"),
        F.sum(F.when(valid, F.col("game_win") * F.col("cnt"))).alias("total_win"),
        F.coalesce(
            F.sum(F.when(valid & (F.col("game_win") > 0), F.col("cnt"))), F.lit(0)
        ).alias("hits"),
        F.max("game_win").alias("max_win"),
        F.collect_list(F.when(valid, F.struct("game_win", "cnt"))).alias("_dist"),
    )
    stats = pool_identity(stats.withColumn("source_file", decode_uri_path(F.col("source_file"))))

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
        "_dist",
    )

    # Volatility: a fold over the pool's own (game_win, cnt) pairs, with
    # the per-term 4dp round; square via multiplication, not pow():
    # bit-deterministic across engines/libm implementations (matters for
    # the DuckDB oracle compare)
    def add_term(acc, x):
        diff = x["game_win"] / F.col("min_bet") - F.col("rtp") / 100
        return acc + rnd((x["cnt"] / F.col("size")) * diff * diff, 4)

    variance = F.aggregate("_dist", F.lit(0.0), add_term)
    volatility = F.when(F.col("rtp").isNotNull(), rnd(F.lit(Z_90_CI) * F.sqrt(variance), 2))
    out = kpi.select(
        F.col("file_name").alias("pool_name"),
        *kpi.drop("_dist").columns,
        volatility.alias("volatility"),
        tag_expr("pool_type").alias("tag"),
        is_flat_expr("pool_type").alias("is_flat"),
        max_multiplier_expr("pool_type").alias("max_multiplier"),
    )
    if with_processed_at:
        out = out.withColumn("processed_at", F.current_timestamp())
    return out
