"""Incremental processing (reference S2/S3/EP2): three change ledgers
over one scan path.

The reference's change detection is ``git diff --name-only HEAD~1 HEAD``
driven by a GitHub-Actions push loop (etl/extract.py:55-80,
.github/workflows/etl_pipeline.yml:3-10): each run processes only files
changed since the last run, falling back to a full scan when none.

Every runner reads pool files as the batch pipeline does: a
``binaryFile`` read (``scan_pol_files``' recursive ``*.pol`` glob minus
``EXCLUDED_DIRS``, or the changed paths) counted per file by
``count_pol_files`` — and ends in the same tail, ``_upsert_pools``:
``pool_kpis`` -> ``upsert_parquet``, so a rerun is an idempotent MERGE
and every store row equals the batch record.

  * ``run_incremental`` — Spark's streaming file-source checkpoint,
    keyed on file PATH: ``readStream`` discovers files, the checkpoint
    records which were processed, ``Trigger.AvailableNow`` drains
    everything new and stops (the push-triggered CI loop). The first
    run IS the full scan (S3). New files are processed once; an
    in-place EDIT of an already-seen file is not re-processed. Right
    for immutable-drop fleets (the common case at scale).
  * ``run_incremental_mtime`` — an explicit (path, mtime) ledger
    matching the reference's git-diff semantics: a modified file shows
    a new mtime and is re-processed, its store row upserted in place.
    The listing is metadata-only (``binaryFile`` pruned to
    path+modificationTime — no bytes read), the anti-join against the
    ledger is O(corpus listing), and only CHANGED files are read.
  * ``run_incremental_git`` — the reference's LITERAL change log: one
    subprocess call to ``git diff --name-only HEAD~1 HEAD``
    (etl/extract.py:55-80, the pipeline's only process boundary),
    filtered to .pol files under the scan dir, deleted and excluded
    files skipped, full-scan fallback when the diff is empty or git
    fails (etl/main.py:79-85). The changed-path list is bounded by ONE
    COMMIT'S CHURN, never corpus size, so the driver round-trip is safe
    at fleet scale.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.session import local_frame
from github_etl_pipeline_spark.sinks.upsert import read_store, upsert_parquet
from github_etl_pipeline_spark.sources.pol import count_pol_files, drop_excluded, scan_pol_files

_PATHS_SCHEMA = StructType([StructField("path", StringType())])


def _upsert_pools(
    spark: SparkSession,
    counted: DataFrame,
    store_path: str | Path,
    dim_agg: DataFrame | None,
    rounding: str,
) -> None:
    """The tail every runner shares: KPI records of ``counted`` (a
    ``count_pol_files`` frame) MERGEd into the store. A merge into an
    existing store runs two actions over the records (the touched
    buckets, then the write), so the pool-sized ``pool_kpis`` result is
    persisted for the call and released in the finally: the scan and
    shuffle under it run once."""
    pools = pool_kpis(counted, dim_agg=dim_agg, rounding=rounding).persist()
    try:
        upsert_parquet(spark, pools, store_path)
    finally:
        pools.unpersist()


def run_incremental(
    spark: SparkSession,
    scan_dir: str | Path,
    checkpoint_dir: str | Path,
    store_path: str | Path,
    dim_agg: DataFrame | None = None,
    rounding: str = "bankers",
) -> int:
    """Drain all unseen .pol files into the parquet KPI store; returns the
    number of micro-batches processed. Repeated calls process only files
    the checkpoint has not seen (S2); the first call processes all (S3)."""
    scan_dir = str(scan_dir)
    reader = (
        spark.readStream.format("binaryFile")  # a stream needs binaryFile's fixed schema
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", "64")
    )
    counted = count_pol_files(scan_pol_files(reader, scan_dir), scan_dir)
    n_batches = 0

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        if batch_df.isEmpty():
            return
        n_batches += 1
        _upsert_pools(batch_df.sparkSession, batch_df, store_path, dim_agg, rounding)

    query = (
        counted.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches


def run_incremental_mtime(
    spark: SparkSession,
    scan_dir: str | Path,
    ledger_path: str | Path,
    store_path: str | Path,
    dim_agg: DataFrame | None = None,
    rounding: str = "bankers",
) -> int:
    """(path, mtime)-keyed incremental run: process files that are NEW or
    MODIFIED IN PLACE since the last run — the reference's git-diff change
    model (etl/extract.py:55-80), which the path-keyed streaming ledger
    cannot express. Returns the number of files processed.

    The ledger is itself an ``upsert_parquet`` store keyed by path (so
    ledger maintenance is bucket-pruned too). Change detection is a
    left-anti join of the current metadata-only listing against the
    ledger on (path, mtime): a brand-new path has no ledger row, an
    edited file has a ledger row with a DIFFERENT mtime — both fall out
    of the anti join. First run = everything changed = the full-scan
    fallback (S3).

    Steady state collects the changed-path list to the driver to drive
    the read — bounded by CHURN, not corpus size. The FIRST run (no
    ledger) never materializes a path list at all: everything is
    "changed", so it plans a plain recursive DIRECTORY scan — one
    InMemoryFileIndex over the root instead of a million-element
    ``load(paths)`` (VERDICT r4 #4; at fleet scale a first run over the
    full corpus must not round-trip every path through the driver).
    """
    scan_dir = str(scan_dir)
    # Spark's session FileStatusCache pins file lengths forever
    # (metadataCacheTTLSeconds=-1): an in-place edit would otherwise be
    # LISTED with its new mtime but READ at its stale cached length
    # (truncated/padded content). Detecting edits is this mode's whole
    # contract, so drop cached listings under the scan root first.
    spark.catalog.refreshByPath(scan_dir)
    # metadata-only listing: binaryFile with content pruned reads no bytes
    listing = scan_pol_files(spark.read.format("binaryFile"), scan_dir).select(
        F.col("path"), F.col("modificationTime").alias("mtime")
    )
    ledger_path = Path(ledger_path)
    if ledger_path.exists():
        seen = read_store(spark, ledger_path).select("path", "mtime")
        changed = listing.join(seen, ["path", "mtime"], "left_anti")
        # binaryFile lists ``path`` as the file's own name behind the
        # scheme, which is what the reader takes back: decoding it again
        # would turn a literal "%25" in a name into "%"
        paths = [r.path for r in changed.select("path").collect()]
        if not paths:
            return 0
        raw = spark.read.format("binaryFile").load(paths)
        n_changed = len(paths)
    else:
        # first run = full scan: directory read, no per-path file list
        changed = listing
        n_changed = listing.count()
        if n_changed == 0:
            return 0
        raw = scan_pol_files(spark.read.format("binaryFile"), scan_dir)
    _upsert_pools(spark, count_pol_files(raw, scan_dir), store_path, dim_agg, rounding)
    upsert_parquet(spark, changed, ledger_path, key="path")
    return n_changed


def changed_paths_from_git(
    repo_root: str | Path, base_ref: str = "HEAD~1"
) -> list[str] | None:
    """``git diff --name-only {base_ref} HEAD`` as a list of repo-relative
    posix paths, or None when git fails (not a repo, single commit,
    no git binary) — None means "fall back to a full scan"
    (etl/extract.py:55-80: errors return [], and an empty changed list
    triggers the full-scan fallback in etl/main.py:82-85).

    The reference's default ``HEAD~1`` assumes RUN-ONCE-PER-COMMIT cadence
    (its CI triggers on every push): if several commits land between runs,
    .pol changes from the earlier commits are silently missed unless the
    newest commit happens to trigger the fallback. Callers on a slower
    cadence should pass the last-processed commit as ``base_ref`` so the
    diff covers the full gap."""
    import subprocess

    try:
        result = subprocess.run(
            ["git", "diff", "--name-only", base_ref, "HEAD"],
            cwd=str(repo_root),
            capture_output=True,
            text=True,
            check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return [f.strip() for f in result.stdout.splitlines() if f.strip()]


def run_incremental_git(
    spark: SparkSession,
    repo_root: str | Path,
    store_path: str | Path,
    scan_subdir: str = "samples/pools2",
    dim_agg: DataFrame | None = None,
    rounding: str = "bankers",
    base_ref: str = "HEAD~1",
) -> int:
    """Git-commit-keyed incremental run: process exactly the .pol files
    the last commit touched — the reference's change model verbatim
    (etl/extract.py:160-211). Change detection is ONE subprocess call on
    the driver; its output is bounded by one commit's churn (never the
    corpus size), so unlike a listing-based ledger this mode costs no
    directory walk at all in the steady state. Returns the number of
    changed files processed, or -1 when it fell back to a full scan
    (no changed .pol files / git unavailable — etl/main.py:82-85).

    Matches the reference filter chain exactly: ``.pol`` suffix, path
    under ``scan_subdir`` (posix substring, etl/extract.py:176-180 —
    so ``vendor/samples/pools2/x.pol`` matches too; such out-of-subdir
    matches project ``source_file`` relative to ``repo_root``, mirroring
    the reference's ``relative_to(repo_root)`` at etl/extract.py:125),
    deleted files skipped (``:192-195``), ``EXCLUDED_DIRS`` path parts
    skipped (``:197-199``).

    Default ``base_ref="HEAD~1"`` carries the reference's implicit
    run-once-per-commit assumption (see ``changed_paths_from_git``);
    pass the last-processed commit to diff a multi-commit gap.
    """
    repo_root = Path(repo_root)
    scan_dir = str(repo_root / scan_subdir)
    changed = changed_paths_from_git(repo_root, base_ref=base_ref)
    sub_posix = scan_subdir.strip("/")
    paths: list[str] = []
    for rel in changed or []:
        rel = rel.replace("\\", "/")
        # a listed file that no longer exists was deleted in the commit
        if rel.endswith(".pol") and sub_posix in rel and (repo_root / rel).exists():
            paths.append(str(repo_root / rel))
    if paths:
        # the scan's own exclusion filter, over the (churn-sized) path list
        candidates = local_frame(spark, [(p,) for p in paths], _PATHS_SCHEMA)
        paths = [r.path for r in drop_excluded(candidates, "path").collect()]
    # In-place edits: drop stale cached file lengths (see
    # run_incremental_mtime) BEFORE either branch reads — the full-scan
    # fallback re-reads the whole corpus and would otherwise read a
    # file edited in an earlier commit at its pinned stale length
    # (FileStatusCache keeps lengths forever, metadataCacheTTLSeconds=-1).
    # scan_dir covers the fallback branch; OUT-OF-SUBDIR matches (e.g.
    # vendor/samples/pools2/x.pol — first-class since r10) live outside
    # that prefix, so each gets its own refresh or an in-place edit
    # could still be read at its stale pinned length (ADVICE r10).
    spark.catalog.refreshByPath(scan_dir)
    scan_prefix = scan_dir.rstrip("/") + "/"
    for p in paths:
        if not p.startswith(scan_prefix):
            spark.catalog.refreshByPath(p)
    if paths:
        raw = spark.read.format("binaryFile").load(paths)
        n_changed = len(paths)
    else:
        # no changed .pol files (or git failed) -> full-scan fallback
        raw = scan_pol_files(spark.read.format("binaryFile"), scan_dir)
        n_changed = -1
    counted = count_pol_files(raw, scan_dir, fallback_root=str(repo_root))
    _upsert_pools(spark, counted, store_path, dim_agg, rounding)
    return n_changed
