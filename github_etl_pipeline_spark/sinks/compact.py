"""Small-files compaction sink — the table-maintenance operation a
100-TB parquet lake needs continuously (the reference never needs it:
its output is one JSON document — this is part of the beyond-reference
scale surface, SURVEY §8).

Streaming ingestion and fine-grained upserts leave parquet tables as
thousands of KB-sized files; every downstream scan then pays one task +
one footer read per file, and data skipping degrades to nothing because
each file's min/max spans the whole key range. ``compact_parquet``
rewrites a directory into ~``target_rows_per_file``-sized files
RANGE-PARTITIONED and SORTED on the caller's key columns:

  * ``repartitionByRange(n, keys)`` gives non-overlapping key ranges
    ACROSS files, so a point/range predicate on the sort key prunes to
    one file (parquet row-group min/max stats do the rest within it);
  * ``sortWithinPartitions`` makes row-group stats tight WITHIN a file;
  * ``maxRecordsPerFile`` caps stragglers from range skew.

The rewrite is one wide job: a range-exchange (sampled boundaries, AQE
coalesces empty buckets) + local sort — no driver materialization at any
size. ``output_dir`` is replaced by a directory commit (``sinks/commit.py``),
so compacting in place never loses the table; not ACID.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from github_etl_pipeline_spark.sinks import commit
from github_etl_pipeline_spark.sinks.upsert import _BUCKET_COL, _is_bucketed_store


def compact_parquet(
    spark: SparkSession,
    input_dir: str | Path,
    output_dir: str | Path,
    sort_cols: list[str],
    target_rows_per_file: int = 1_000_000,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
) -> dict:
    """Rewrite ``input_dir`` (parquet) into ``output_dir`` as
    range-partitioned, key-sorted files of ~``target_rows_per_file``
    rows. Returns {"rows", "files_before", "files_after"}.

    ``sort_cols`` should be the columns downstream scans filter on most
    — they become the cross-file range-pruning key.

    ``zorder_by`` (mutually exclusive with ``sort_cols``) lays files out
    by a Morton-interleaved key over SEVERAL non-negative integer
    bucket columns (functions/zorder.py) instead of a lexicographic key:
    min/max row-group stats then prune filters on ANY participating
    column, not just the leading one — the Delta/Iceberg OPTIMIZE ZORDER
    technique on plain parquet. The z-key is computed, range-partitioned
    and sorted on, then dropped before the write.

    A bucketed ``upsert_parquet`` store keeps its ``_bucket=K``
    directories: the bucket leads the range key and partitions the write.
    """
    if bool(sort_cols) == bool(zorder_by):
        raise ValueError("compact_parquet: pass exactly one of sort_cols / zorder_by")
    input_dir, output_dir = Path(input_dir), Path(output_dir)
    # recover first: in place, the input IS the committed target
    staging = commit.begin(output_dir)
    df = spark.read.parquet(str(input_dir))
    # an upsert_parquet store keeps its _bucket=K directories, or the next
    # upsert would see a flat store and migrate all of it
    part_cols = [_BUCKET_COL] if _is_bucketed_store(input_dir) else []
    if zorder_by:
        from github_etl_pipeline_spark.functions.zorder import zorder_sql

        df = df.withColumn("_zkey", F.expr(zorder_sql(zorder_by, zorder_bits)))
        sort_cols = ["_zkey"]

    files_before = len(list(input_dir.rglob("*.parquet")))
    rows = df.count()
    n_files = max(1, -(-rows // target_rows_per_file))  # ceil
    # straggler cap with 50% slack over the per-partition target: the
    # range exchange picks boundaries from a SAMPLE, so partitions land
    # near rows/n_files, not exactly on it — a cap at the target itself
    # would split a 1%-over partition into (target + tiny-remainder)
    # files, defeating the compaction
    per_file_cap = max(1, int(target_rows_per_file * 1.5))

    keys = [*part_cols, *sort_cols]
    out = df.repartitionByRange(n_files, *[F.col(c) for c in keys]).sortWithinPartitions(*keys)
    if sort_cols == ["_zkey"]:
        out = out.drop("_zkey")
    (
        out.write.option("maxRecordsPerFile", per_file_cap)
        .mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(str(staging))
    )
    commit.promote(output_dir)
    files_after = len(list(output_dir.rglob("*.parquet")))
    return {"rows": rows, "files_before": files_before, "files_after": files_after}
