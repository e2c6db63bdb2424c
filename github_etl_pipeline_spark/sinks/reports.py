"""Report sinks: run summary (S9), index (S10), CSV export (S11).

S10/S11 are dead code in the reference (they read fields only the
README-era schema produced — etl/load.py:140, :208); here they are live
and read the CURRENT schema, which is the union surface SURVEY §0.1 asks
for.
"""

from __future__ import annotations

import csv
import json
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_etl_pipeline_spark.sinks.upsert import collect_at_most, read_consolidated


def _iso_now() -> str:
    return datetime.now(timezone.utc).isoformat(timespec="seconds")


def save_summary_report(
    summary: DataFrame,
    counters: dict,
    output_file: str | Path,
) -> Path:
    """Write _pipeline_summary.json: run counters (A9) + the fleet
    aggregate (A8) from the single-row summary DataFrame."""
    return write_summary_report(summary.first(), counters, output_file)


def write_summary_report(row, counters: dict, output_file: str | Path) -> Path:
    """Write _pipeline_summary.json from one row of ``summary_metrics``
    (a Row, or the dict an ``Observation`` returns) and the counters."""
    output_file = Path(output_file)
    agg = {
        "total_files_processed": row["total_files_processed"],
        "total_records_across_all_files": row["total_records_across_all_files"],
        # keys ascending: a map reaches Python through a hash map, whose
        # iteration order depends on the conversion path
        "tags_distribution": dict(sorted((row["tags_distribution"] or {}).items())),
        "files_by_folder": dict(sorted((row["files_by_folder"] or {}).items())),
        "generated_at": _iso_now(),
    }
    if row["rtp_stats"] is not None:
        agg["rtp_stats"] = row["rtp_stats"].asDict()
    if row["volatility_stats"] is not None:
        agg["volatility_stats"] = row["volatility_stats"].asDict()

    doc = {
        "pipeline_run_at": _iso_now(),
        **counters,
        "aggregated_summary": agg,
    }
    output_file.parent.mkdir(parents=True, exist_ok=True)
    output_file.write_text(json.dumps(doc, indent=2, ensure_ascii=False, default=str))
    return output_file


def generate_index_file(consolidated_json: str | Path, output_file: str | Path) -> Path:
    """Index of the consolidated store, sorted by source file (S10).
    ``consolidated_json`` is the path ``write_consolidated_json`` returned: the
    document or its shard directory."""
    output_file = Path(output_file)
    files = sorted(
        (
            {
                "source_file": rec.get("metadata", {}).get("source_file"),
                "pool_name": rec.get("pool_name"),
                "processed_at": rec.get("metadata", {}).get("processed_at"),
                "size": rec.get("size"),
            }
            for rec in read_consolidated(consolidated_json).values()
        ),
        key=lambda x: x.get("source_file") or "",
    )
    doc = {"generated_at": _iso_now(), "total_files": len(files), "files": files}
    output_file.write_text(json.dumps(doc, indent=2, ensure_ascii=False))
    return output_file


CSV_FIELDS = [
    "source_file",
    "pool_name",
    "pool_id",
    "pool_type",
    "folder_path",
    "size",
    "min_bet",
    "rtp",
    "volatility",
    "hit_frequency",
    "max_win_factor",
    "is_flat",
    "max_multiplier",
]


# Bound on the driver-side single-file collect; above it the export is
# written as sorted CSV shards by executors instead (see save_as_csv).
CSV_DRIVER_MAX_ROWS = 1_000_000


def save_as_csv(
    pools: DataFrame,
    output_file: str | Path,
    max_driver_rows: int = CSV_DRIVER_MAX_ROWS,
) -> Path:
    """Flat CSV export of the per-pool records (S11).

    Single-file (driver-side) up to ``max_driver_rows`` rows; beyond that
    the collect is refused and executors write range-partitioned, sorted
    CSV shards (with headers) to ``<output_file>.shards/`` — same columns,
    same global sort order across shard file names."""
    output_file = Path(output_file)
    sel = pools.select(*CSV_FIELDS)
    rows = collect_at_most(sel, max_driver_rows)
    if rows is None:
        shard_dir = output_file.with_name(output_file.name + ".shards")
        (
            sel.repartitionByRange(F.col("source_file"))
            .sortWithinPartitions("source_file")
            .write.mode("overwrite")
            .option("header", "true")
            .csv(str(shard_dir))
        )
        return shard_dir
    return write_csv(rows, output_file)


def write_csv(rows, output_file: str | Path) -> Path:
    """Write collected rows (any Rows holding ``CSV_FIELDS``) as the
    single-file export, sorted by source file."""
    output_file = Path(output_file)
    output_file.parent.mkdir(parents=True, exist_ok=True)
    records = sorted(
        ({f: r[f] for f in CSV_FIELDS} for r in rows), key=lambda r: r["source_file"] or ""
    )
    with open(output_file, "w", newline="", encoding="utf-8") as f:
        writer = csv.DictWriter(f, fieldnames=CSV_FIELDS)
        writer.writeheader()
        writer.writerows(records)
    return output_file
