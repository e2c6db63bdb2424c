"""End-to-end batch pipeline (reference EP1, etl/main.py:42-151).

extract (distributed scan, each file's lines counted per distinct text
in one Arrow pass) -> transform
(per-pool aggregate + broadcast join of the driver-prepared dimension)
-> per-pool KPI records + fleet rollup. Sinks live in
``github_etl_pipeline_spark.sinks`` and are optional — the DataFrame is
the IR between stages (reference EP3 seam, etl/__init__.py:8-18).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.operators.rollup import aggregated_summary, summary_metrics
from github_etl_pipeline_spark.sinks import reports, upsert
from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim
from github_etl_pipeline_spark.sources.pol import count_pol_files, scan_pol_files


def run_pipeline(
    spark: SparkSession,
    repo_root: str | Path,
    scan_subdir: str = "samples/pools2",
    rounding: str = "bankers",
    dim: DataFrame | None = None,
    output_dir: str | Path | None = None,
    paths: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (per-pool KPI records, single-row aggregated summary).

    ``dim`` overrides the xlsx lookup (used by tests to inject the richer
    dimension the reference's committed goldens were produced with).

    ``paths`` restricts the run to those pool files (the changed files of
    ``streaming.incremental.changed_pol_paths``); a file outside the scan
    dir is keyed relative to ``repo_root`` (etl/extract.py:125). Without
    it the run scans every pool file under the scan dir.

    With ``output_dir`` set, also writes the reference's full output
    surface (EP1, etl/main.py:124-148): consolidated JSON upsert (S8),
    _pipeline_summary.json with run counters (S9/A9), _index.json (S10)
    and the flat CSV export (S11).
    """
    repo_root = Path(repo_root)
    scan_dir = repo_root / scan_subdir
    if not scan_dir.exists():
        scan_dir = repo_root

    # one scan: blank and invalid lines count under game_win NULL, so raw
    # line counts AND size-0 records for unparseable files come out of the
    # same aggregate (no separate inventory pass over the data)
    if paths is None:
        raw, fallback_root = scan_pol_files(spark, str(scan_dir)), None
    else:
        raw, fallback_root = spark.read.format("binaryFile").load(paths), str(repo_root)
    counted = count_pol_files(raw, str(scan_dir), fallback_root=fallback_root)

    if dim is None:
        dim = load_game_lookup(spark, repo_root)
    dim_agg = prepare_dim(dim) if dim is not None else None

    pools = pool_kpis(counted, dim_agg=dim_agg, rounding=rounding)
    if output_dir is not None:
        _write_outputs(pools, Path(output_dir), rounding)
    return pools, aggregated_summary(pools, rounding=rounding)


def _write_outputs(pools: DataFrame, output_dir: Path, rounding: str) -> None:
    """The output surface from ONE action over ``pools`` when the records
    fit the driver bounds: a bounded collect of the record and CSV
    columns, with the fleet rollup and the A9 counters observed on the
    same pass (``DataFrame.observe``; its metrics are complete because an
    in-bound collect reads every partition). Above either bound the
    records are persisted and each sink takes its own path, shards
    included, and the rollup is one more aggregate.

    The JSON document is upserted, so it and the index cover every pool
    any run has written; the summary and the CSV cover the files of this
    run only (after a changed-files run, those files)."""
    output_dir.mkdir(parents=True, exist_ok=True)
    json_path = output_dir / "all_pools_data.json"
    csv_path = output_dir / "_all_files_summary.csv"
    metrics = [
        *summary_metrics(rounding),
        # A9: a file "failed" when it had raw lines but none parsed (the
        # reference's per-file try/except surface, etl/main.py:100-122)
        F.expr("count_if(size = 0 AND line_count > 0) AS files_failed"),
    ]
    observed = Observation()
    rows = upsert.collect_at_most(
        pools.observe(observed, *metrics).select(
            *reports.CSV_FIELDS, upsert.pool_record_col().alias("record")
        ),
        min(upsert.CONSOLIDATED_DRIVER_MAX_ROWS, reports.CSV_DRIVER_MAX_ROWS),
    )
    if rows is not None:
        consolidated = upsert.upsert_consolidated_document(
            ((r.source_file, r.record) for r in rows), json_path
        )
        reports.write_csv(rows, csv_path)
        summary = observed.get
    else:
        # only this cache, never a session-wide sweep that would also drop
        # caches the CALLER owns (e.g. a persisted dim passed in)
        pools.persist()
        try:
            consolidated = upsert.write_consolidated_json(
                pools, json_path, upsert.CONSOLIDATED_DRIVER_MAX_ROWS
            )
            reports.save_as_csv(pools, csv_path, reports.CSV_DRIVER_MAX_ROWS)
            summary = pools.agg(*metrics).first()
        finally:
            pools.unpersist()

    n, failed = summary["total_files_processed"], summary["files_failed"]
    counters = {"files_processed": n, "files_succeeded": n - failed, "files_failed": failed}
    reports.write_summary_report(summary, counters, output_dir / "_pipeline_summary.json")
    reports.generate_index_file(consolidated, output_dir / "_index.json")
