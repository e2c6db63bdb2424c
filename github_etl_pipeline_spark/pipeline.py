"""End-to-end batch pipeline (reference EP1, etl/main.py:42-151).

extract (distributed scan) -> transform (single shuffled agg + broadcast
dim join) -> per-pool KPI records + fleet rollup. Sinks live in
``github_etl_pipeline_spark.sinks`` and are optional — the DataFrame is
the IR between stages (reference EP3 seam, etl/__init__.py:8-18).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from github_etl_pipeline_spark.operators.kpis import pool_kpis, release_pool_kpis
from github_etl_pipeline_spark.operators.rollup import aggregated_summary
from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim
from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines


def run_pipeline(
    spark: SparkSession,
    repo_root: str | Path,
    scan_subdir: str = "samples/pools2",
    rounding: str = "bankers",
    dim: DataFrame | None = None,
    output_dir: str | Path | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (per-pool KPI records, single-row aggregated summary).

    ``dim`` overrides the xlsx lookup (used by tests to inject the richer
    dimension the reference's committed goldens were produced with).

    With ``output_dir`` set, also writes the reference's full output
    surface (EP1, etl/main.py:124-148): consolidated JSON upsert (S8),
    _pipeline_summary.json with run counters (S9/A9), _index.json (S10)
    and the flat CSV export (S11).
    """
    repo_root = Path(repo_root)
    scan_dir = repo_root / scan_subdir
    if not scan_dir.exists():
        scan_dir = repo_root

    # single-pass mode: invalid lines kept as NULL game_win, so raw line
    # counts AND size-0 records for unparseable files come out of the same
    # scan + shuffle (no separate inventory pass over the data)
    lines = read_pol_lines(spark, str(scan_dir))
    parsed = parse_pol_lines(lines, keep_invalid=True)

    if dim is None:
        dim = load_game_lookup(spark, repo_root)
    dim_agg = prepare_dim(dim) if dim is not None else None

    pools = pool_kpis(parsed, dim_agg=dim_agg, rounding=rounding)
    summary = aggregated_summary(pools, rounding=rounding)

    if output_dir is not None:
        from pyspark.sql import functions as F

        from github_etl_pipeline_spark.sinks.reports import (
            generate_index_file,
            save_as_csv,
            save_summary_report,
        )
        from github_etl_pipeline_spark.sinks.upsert import write_consolidated_json

        output_dir = Path(output_dir)
        output_dir.mkdir(parents=True, exist_ok=True)
        consolidated = output_dir / "all_pools_data.json"
        # the output surface takes THREE actions over pools (JSON collect,
        # counter agg, CSV export) — persist the pool-cardinality aggregate
        # so the corpus-sized scan+shuffle below it runs once, not three
        # times (pools is one row per file: tiny at any corpus size).
        # TARGETED release in the finally (ADVICE r10, revising the r9
        # session-wide sweep): the caches released are the two this call
        # created — pools, and the distribution pool_kpis persisted under
        # it — even when a sink raises. A session-wide sweep here would
        # also clear caches owned by the CALLER (e.g. a persisted dim
        # passed in), forcing recomputes the caller paid to avoid —
        # session-wide sweeps belong to harness entry points.
        try:
            pools.persist()
            write_consolidated_json(pools, consolidated)

            # A9 counters: a file "failed" when it had raw lines but none
            # parsed (the reference's per-file try/except surface,
            # etl/main.py:100-122)
            counts = pools.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(
                    (F.col("size") == 0) & (F.col("line_count") > 0)
                ).alias("failed"),
            ).first()
            counters = {
                "files_processed": counts["n"],
                "files_succeeded": counts["n"] - counts["failed"],
                "files_failed": counts["failed"],
            }
            save_summary_report(
                summary, counters, output_dir / "_pipeline_summary.json"
            )
            generate_index_file(consolidated, output_dir / "_index.json")
            save_as_csv(pools, output_dir / "_all_files_summary.csv")
        finally:
            pools.unpersist()
            release_pool_kpis(parsed)

    return pools, summary
