"""Upsert sinks (reference S8, etl/load.py:16-82).

The reference's consolidated store is a JSON object map
{source_path -> pool record} maintained read-modify-write. Two Spark-first
equivalents:

  * ``upsert_parquet`` — the scale path: a parquet table hash-bucketed
    by key (``_bucket=pmod(xxhash64(key), N)`` directory partitions).
    MERGE reads ONLY the buckets containing updated keys (partition
    pruning) and rewrites ONLY those buckets (dynamic partition
    overwrite) — an incremental micro-batch costs O(touched buckets),
    not O(entire history), so the maintained-store loop
    (streaming/incremental.py) stays flat over time instead of
    degrading quadratically. (Per-bucket overwrite is last-writer-wins,
    not ACID — the reference's read-modify-write JSON has exactly the
    same property.)
  * ``write_consolidated_json`` — format-parity path producing the
    reference's exact nested JSON document (only sensible at
    fleet-rollup cardinality, i.e. hundreds-thousands of pools; the
    100-TB input reduces to one record per pool file, so the driver-side
    materialization is of the tiny AGGREGATE, never the raw data).
    Guarded by :func:`collect_at_most`: above ``max_driver_rows`` it
    writes sharded JSONL through Spark instead. Both forms take the key
    (``source_file``) and the record (``pool_record_col``, the one
    definition of the reference record) from the same Spark expressions.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from github_etl_pipeline_spark.sinks import commit

# Bucket count for the hash-partitioned store layout. 64 keeps sf-scale
# test stores small; at fleet scale pick ~(store size / target file size)
# — the layout is self-describing (directory partitions), so readers
# never need to know N.
DEFAULT_STORE_BUCKETS = 64
_BUCKET_COL = "_bucket"


def _is_bucketed_store(table_path: Path) -> bool:
    """A store written by this module has ``_bucket=K`` partition dirs."""
    return any(
        p.name.startswith(f"{_BUCKET_COL}=") for p in table_path.iterdir() if p.is_dir()
    )


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(_BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    table_path: str | Path,
    key: str = "source_file",
    n_buckets: int = DEFAULT_STORE_BUCKETS,
) -> None:
    """Upsert ``updates`` into the parquet table at ``table_path`` keyed by
    ``key``: new rows win over existing rows with the same key; unmatched
    existing rows are preserved (reference etl/load.py:45-61 semantics).

    Scale path: the store is laid out as ``_bucket=pmod(xxhash64(key), N)``
    directory partitions. A merge reads only the buckets whose keys appear
    in ``updates`` (partition-pruned scan) and rewrites only those buckets
    (``partitionOverwriteMode=dynamic``) — untouched bucket files are not
    rewritten, so incremental maintenance cost is bounded by the delta, not
    the accumulated history. Read the store back via :func:`read_store`
    (drops the internal bucket column).

    A pre-existing UNBUCKETED store (written by an older version of this
    sink) is migrated in one full rewrite on first merge; thereafter all
    merges are bucket-pruned. Create and migration are directory commits
    (``sinks/commit.py``).
    """
    table_path = Path(table_path)
    # before the layout check: recovery may move a flat store back here
    staging = commit.begin(table_path)
    updates = _with_bucket(updates, key, n_buckets)

    if table_path.exists() and _is_bucketed_store(table_path):
        touched = [r[0] for r in updates.select(_BUCKET_COL).distinct().collect()]
        # mergeSchema: after a schema-evolving merge, touched buckets carry
        # the new schema while untouched ones keep the old — the union view
        # needs the merged schema (missing columns read as NULL)
        existing = (
            spark.read.option("mergeSchema", "true")
            .parquet(str(table_path))
            .where(F.col(_BUCKET_COL).isin(touched))
        )
        # dynamic mode replaces ONLY the partitions present in the merge
        # (== touched buckets); all other bucket dirs are untouched
        (
            _keep_newest(updates, existing, key)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET_COL)
            .parquet(str(table_path))
        )
        return

    merged = updates
    if table_path.exists():
        # legacy unbucketed store: one-time migration to the bucketed layout
        existing = spark.read.parquet(str(table_path))
        if _BUCKET_COL not in existing.columns:
            existing = _with_bucket(existing, key, n_buckets)
        merged = _keep_newest(updates, existing, key)

    merged.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(str(staging))
    commit.promote(table_path)


def _keep_newest(updates: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """The merge itself: union, then one row per key, updates first."""
    return (
        updates.withColumn("_pri", F.lit(0))
        .unionByName(existing.withColumn("_pri", F.lit(1)), allowMissingColumns=True)
        .withColumn("_rn", F.row_number().over(Window.partitionBy(key).orderBy("_pri")))
        .where(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    )


def read_store(spark: SparkSession, table_path: str | Path) -> DataFrame:
    """Read an ``upsert_parquet`` store back without its internal layout
    column. Works on both bucketed and legacy flat stores."""
    df = spark.read.option("mergeSchema", "true").parquet(str(table_path))
    return df.drop(_BUCKET_COL) if _BUCKET_COL in df.columns else df


def _all_nullable(t: DataType) -> DataType:
    """``t`` with every nested field, element and value nullable."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _all_nullable(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_all_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(t.keyType, _all_nullable(t.valueType))
    return t


def collect_at_most(df: DataFrame, max_rows: int) -> list | None:
    """The driver-or-shards rule of the sinks: ``df``'s rows, in ``df``'s
    order, when there are at most ``max_rows`` of them, else ``None`` (the
    caller then writes shards through Spark).

    The check and the driver copy are one Spark job: a
    ``limit(max_rows + 1)`` fetched as Arrow reads every partition in one
    round, where ``collect`` scans one partition first and then the rest
    (two jobs on any multi-partition input). That limit keeps each
    partition's first ``max_rows + 1`` rows and gathers them through a
    shuffle, so an oversized input moves at most all of its rows once;
    only an input that fits is turned into Python objects (over the bound
    this is faster and lighter than ``collect``, see CHANGES.md). The
    shuffle keeps no order across executors, so each row carries its
    ``monotonically_increasing_id`` (partition, then position) and the
    rows are put back in that order on the driver.

    The rows come from pyspark's Arrow-to-Row conversion
    (``pyspark.sql.conversion``, an internal module), not from
    ``collect()``'s pickles; on pyspark 4.1 they are the same Rows (Row
    for a struct, dict for a map, NaN, ``bytes`` for a BinaryType value),
    but a pyspark upgrade can move that module. ``toArrow`` casts to the
    frame's Arrow schema, which
    refuses a NULL struct over a non-nullable child field (Spark allows
    one), so the fetch declares every nested field nullable first.
    tests/test_sinks.py::test_collect_at_most_rows_match_collect pins the
    parity."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    schema = df.schema
    fetched = _all_nullable(schema)
    if fetched != schema:
        df = df.to(fetched)
    order = "__collect_order"
    table = (
        df.withColumn(order, F.monotonically_increasing_id()).limit(max_rows + 1).toArrow()
    )
    if table.num_rows > max_rows:
        return None
    table = table.sort_by(order).drop_columns(order)
    return ArrowTableToRowsConversion.convert(table, schema)


# Above this many pool records the single-document JSON format itself is
# the problem (a multi-GB JSON object nobody can load); refuse the driver
# collect and write sharded JSONL through Spark instead.
CONSOLIDATED_DRIVER_MAX_ROWS = 100_000


def pool_record_col() -> F.Column:
    """The reference's nested pool record (etl/transform.py:237-256 plus
    the output-only max_win_factor), for both the document and the shards,
    as SQL text parsed by one JVM call. ``processed_at`` is ISO-8601 with
    the ``+00:00`` offset the reference stamps (etl/transform.py:253); the
    session factory pins UTC."""
    return F.expr(
        r"""named_struct(
          'pool_name', pool_name, 'pool_id', pool_id, 'pool_type', pool_type,
          'game_ids', coalesce(game_ids, array()), 'min_bet', min_bet,
          'max_win_factor', max_win_factor, 'rtp', rtp, 'volatility', volatility,
          'is_flat', is_flat, 'tag', coalesce(tag, array()), 'size', size,
          'max_multiplier', max_multiplier,
          'metadata', named_struct(
            'source_file', source_file, 'file_name', file_name, 'folder_path', folder_path,
            'processed_at', concat(date_format(processed_at, 'yyyy-MM-dd\'T\'HH:mm:ss'), '+00:00'),
            'hit_frequency', hit_frequency))"""
    )


def read_consolidated(path: str | Path) -> dict:
    """{key: record} of a store :func:`write_consolidated_json` wrote, from
    the document or from the ``part-*`` JSONL lines of its shard
    directory. A missing store reads as empty."""
    path = Path(path)
    if not path.exists():
        return {}
    if path.is_dir():
        lines = (
            line
            for part in sorted(path.glob("part-*"))
            for line in part.read_text(encoding="utf-8").splitlines()
            if line
        )
        return {d["key"]: d["record"] for d in map(json.loads, lines)}
    return json.loads(path.read_text(encoding="utf-8"))


def write_consolidated_json(
    pools: DataFrame,
    output_file: str | Path,
    max_driver_rows: int = CONSOLIDATED_DRIVER_MAX_ROWS,
) -> Path:
    """Upsert pool records into the consolidated JSON document keyed by
    source_file (reference etl/load.py:16-82).

    The single-document format is inherently driver-side; the collect is
    of the per-pool AGGREGATE (one row per pool file), bounded by
    ``max_driver_rows``. Above the bound this writes one ``{"key",
    "record"}`` JSON line per pool, range-sorted by key, to
    ``<output_file>.shards/`` instead (the returned path points at the
    shard directory)."""
    output_file = Path(output_file)
    keyed = pools.select(
        F.col("source_file").alias("key"), pool_record_col().alias("record")
    ).where(F.col("key").isNotNull() & (F.col("key") != ""))
    rows = collect_at_most(keyed, max_driver_rows)
    if rows is None:
        shard_dir = output_file.with_name(output_file.name + ".shards")
        (
            keyed.repartitionByRange("key")
            .sortWithinPartitions("key")
            # ignoreNullFields=false: a null field serializes as an
            # explicit null, exactly like the document's json.dumps
            .select(F.to_json(F.struct("key", "record"), {"ignoreNullFields": "false"}))
            .write.mode("overwrite")
            .text(str(shard_dir))
        )
        return shard_dir
    return upsert_consolidated_document(((r.key, r.record) for r in rows), output_file)


def upsert_consolidated_document(records, output_file: str | Path) -> Path:
    """Upsert collected ``(key, record Row)`` pairs into the JSON document
    at ``output_file``; a pair with no key is not a record and is skipped.

    Deterministic output: the reference processes files in sorted order
    (etl/extract.py:52), so fresh-run insertion order is sorted paths;
    existing keys keep their position (dict update semantics), exactly
    like the reference's upsert."""
    output_file = Path(output_file)
    try:
        all_data = read_consolidated(output_file)
    except (json.JSONDecodeError, OSError):
        all_data = {}
    for key, record in sorted((kr for kr in records if kr[0]), key=lambda kr: kr[0]):
        all_data[key] = record.asDict(recursive=True)

    output_file.parent.mkdir(parents=True, exist_ok=True)
    output_file.write_text(
        json.dumps(all_data, indent=2, ensure_ascii=False, default=str), encoding="utf-8"
    )
    return output_file
