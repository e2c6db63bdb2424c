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
those counts by ``(source_file, game_win)``; a ``parse_pol_lines`` frame
carries the same ``cnt``, and a row without one counts once. The key is
``source_file`` alone, in the URI form the scan lists it in. ONE per-pool
aggregate over that distribution yields the pool stats and collects the
pool's valid ``(game_win, cnt)`` pairs; the key is decoded and the other pool key columns come from
``sources.pol.pool_identity`` once per pool; after the broadcast join
of the prepared dimension (a local relation: broadcasting it is one
small job, a ``BroadcastExchange`` over a ``LocalTableScan``),
volatility is a per-row fold over the collected pairs. Every
expression is SQL text, parsed by one JVM call each: built from Column
calls the plan took 1,977 py4j round trips (0.31-0.34 s of driver time,
warm, on a 4-core host), as text 192 (0.12-0.18 s). The plan is lazy and
side-effect free: nothing is cached, so there is nothing to release. The collected
array holds one element per distinct valid prize value, so it is never
longer than the pool's line count — the same per-file bound as the
reference's whole-file read (etl/extract.py:152). At 1000 executors the
scan dominates; the shuffle payload is ~#pools x #distinct_texts rows
regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.keys import normalize_pool_id_sql, reference_match_sql
from github_etl_pipeline_spark.functions.rounding import rounder_sql
from github_etl_pipeline_spark.operators.classify import (
    is_flat_sql,
    max_multiplier_sql,
    tag_sql,
)
from github_etl_pipeline_spark.sources.pol import POOL_KEY_COLS, decode_uri_path, pool_identity

Z_90_CI = 1.645

# the per-pool aggregate over the (source_file, game_win) -> cnt rows; a
# NULL game_win is a blank or unparseable line
_POOL_STATS = (
    "sum(cnt) AS line_count",
    "coalesce(sum(CASE WHEN game_win IS NOT NULL THEN cnt END), 0) AS size",
    "sum(CASE WHEN game_win IS NOT NULL THEN game_win * cnt END) AS total_win",
    "coalesce(sum(CASE WHEN game_win IS NOT NULL AND game_win > 0 THEN cnt END), 0) AS hits",
    "max(game_win) AS max_win",
    "collect_list(CASE WHEN game_win IS NOT NULL THEN struct(game_win, cnt) END) AS _dist",
)


def pool_distribution(parsed: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """(pool, game_win) -> cnt (A5). Rows that already carry a ``cnt``
    (``count_pol_files``) add it; any other row counts once."""
    key_cols = key_cols or POOL_KEY_COLS
    n = "sum(cnt)" if "cnt" in parsed.columns else "count(1)"
    return parsed.groupBy(*key_cols, "game_win").agg(F.expr(f"{n} AS cnt"))


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
    rnd = rounder_sql(rounding)

    # Everything after this aggregate is pool-cardinality.
    dist = pool_distribution(parsed, ["source_file"])
    stats = dist.groupBy("source_file").agg(*[F.expr(e) for e in _POOL_STATS])
    stats = pool_identity(stats.withColumn("source_file", decode_uri_path("source_file")))

    if dim_agg is not None:
        stats = stats.join(
            F.broadcast(dim_agg.select("norm_pool_id", "dim_pool_id", "min_bet", "game_ids")),
            F.expr(f"{normalize_pool_id_sql('pool_id')} = norm_pool_id"),
            "left",
        )
        # post-join gate restoring the reference's asymmetric 3-stage
        # fallback (see functions/keys.py): normalized-key matches the
        # reference would NOT have made (fact '00201' / '201' vs dim
        # '0201') revert to lookup-miss semantics
        matched = reference_match_sql("pool_id", "dim_pool_id")
        lookup = (
            f"CASE WHEN {matched} THEN min_bet END AS min_bet",
            f"coalesce(CASE WHEN {matched} THEN game_ids END, array()) AS game_ids",
        )
    else:
        lookup = ("CAST(NULL AS DOUBLE) AS min_bet", "CAST(array() AS ARRAY<STRING>) AS game_ids")

    counts = (*POOL_KEY_COLS, "line_count", "size", "total_win", "max_win")
    stats = stats.selectExpr(*counts, *lookup, "hits", "_dist")

    gate = "min_bet IS NOT NULL AND min_bet > 0"
    kpi = stats.selectExpr(
        *counts,
        "min_bet",
        "game_ids",
        f"CASE WHEN {gate} AND size > 0 THEN {rnd}(total_win / (size * min_bet) * 100, 2) END AS rtp",
        f"CASE WHEN {gate} AND size > 0 THEN {rnd}(hits / size * 100, 2) END AS hit_frequency",
        f"CASE WHEN {gate} AND max_win IS NOT NULL THEN max_win / min_bet END AS max_win_factor",
        "_dist",
    )

    # Volatility: a fold over the pool's own (game_win, cnt) pairs, with
    # the per-term 4dp round; square via multiplication, not pow():
    # bit-deterministic across engines/libm implementations (matters for
    # the DuckDB oracle compare)
    diff = "(x.game_win / min_bet - rtp / 100)"
    term = f"{rnd}((x.cnt / size) * {diff} * {diff}, 4)"
    variance = f"aggregate(_dist, 0D, (acc, x) -> acc + {term})"
    return kpi.selectExpr(
        "file_name AS pool_name",
        *counts,
        "min_bet",
        "game_ids",
        "rtp",
        "hit_frequency",
        "max_win_factor",
        f"CASE WHEN rtp IS NOT NULL THEN {rnd}({Z_90_CI!r}D * sqrt({variance}), 2) END"
        " AS volatility",
        f"{tag_sql('pool_type')} AS tag",
        f"{is_flat_sql('pool_type')} AS is_flat",
        f"{max_multiplier_sql('pool_type')} AS max_multiplier",
        *(["current_timestamp() AS processed_at"] if with_processed_at else []),
    )
