"""`.pol` pool-file source: the one scan path every reader shares.

The reference's extract stage (etl/extract.py:27-52,108-131) makes one
decision: glob ``*.pol`` under the scan root, skip ``EXCLUDED_DIRS``, key
each file by its posix path relative to the root, and split the file name
``Pool_<pool_id>_<pool_type>.pol``. Here that decision is three pieces,
and the batch scan, the streaming source and the mtime/git CDC reads
(``streaming/incremental.py``) all go through them:

  * ``scan_pol_files`` — a recursive ``*.pol`` read under a root
    (``recursiveFileLookup`` + ``pathGlobFilter``) minus ``EXCLUDED_DIRS``,
    filtered on the hidden ``_metadata.file_path`` column. It takes the
    reader, so text, ``binaryFile`` and streaming reads share it.
  * ``pol_lines`` — the projection from ``_metadata`` to ``source_file``
    (the path relative to the scan root; git mode passes a second root
    for files outside it), ``file_size`` and ``file_mtime``.
  * ``pool_identity`` — ``file_name``, ``folder_path``, ``parent_folder``,
    ``pool_id`` and ``pool_type`` derived from ``source_file`` (reference
    P2, etl/transform.py:181-186: missing name parts become NULL like the
    reference's ``splits[1] if len>1``; ids stay strings, leading zeros
    are semantic).

Spark lists files as URIs, so on lines ``source_file`` and its derived
columns are in URI form: a space is ``%20``, a literal ``%`` is ``%25``.
That keeps the per-line aggregation key a plain substring of the listed
path. ``decode_uri_path`` turns the key into the decoded posix path the
reference keys its outputs on; ``pool_kpis`` applies it to the per-pool
distribution, after the shuffle, so no line pays for it.

S4 multi-encoding read (etl/extract.py:83-105): ``read_pol_lines`` is the
UTF-8 text source (correct for this ASCII corpus);
``read_pol_lines_any_encoding`` is the faithful fallback chain. The
reference tries utf-8, utf-8-sig, latin-1, cp1252, then
binary-with-replacement — but plain utf-8 succeeds whenever utf-8-sig
would (the BOM decodes to U+FEFF), and latin-1 maps every byte, so cp1252
and the binary fallback are unreachable; the chain reduces EXACTLY to
"valid UTF-8 ? utf-8 : latin-1", which ``is_valid_utf8`` + ``decode``
express as codegen'd JVM expressions over a ``binaryFile`` scan.

P1 lenient tokenizer (etl/transform.py:61-95): split on whitespace,
``int(tok0)`` else drop the line, add tok2 when it is an int — ``split`` +
``try_cast`` + ``coalesce``, entirely inside whole-stage codegen.

Scale notes: the text source streams each file in splits (no whole-file
string materialization — contrast etl/extract.py:152); a fleet of pool
files scans partition-parallel with ``maxPartitionBytes`` chunking, and
every derived column is a codegen'd expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

# Reference etl/extract.py:14-23
EXCLUDED_DIRS = (
    ".git",
    ".github",
    "Meta_data",
    "__pycache__",
    ".venv",
    "venv",
    "node_modules",
    "etl",
)

#: columns that identify one pool file in every downstream operator
POOL_KEY_COLS = ["source_file", "file_name", "folder_path", "parent_folder", "pool_id", "pool_type"]


def drop_excluded(df: DataFrame, path: Column) -> DataFrame:
    """Rows of ``df`` whose ``path`` has no ``EXCLUDED_DIRS`` directory."""
    for d in EXCLUDED_DIRS:
        df = df.filter(~path.contains(f"/{d}/"))
    return df


def scan_pol_files(reader: DataFrameReader | DataStreamReader, root: str) -> DataFrame:
    """Every ``*.pol`` file under ``root``, recursively, minus the excluded
    directories, read by ``reader`` (``spark.read.format("text")``,
    ``binaryFile``, or a ``readStream``)."""
    df = (
        reader.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.pol")
        .load(root)
    )
    return drop_excluded(df, F.col("_metadata.file_path"))


def _strip_root(spark: SparkSession, path: Column, root: str) -> Column:
    """Everything after the first ``<root>/`` in ``path``, or ``path``
    when the root is absent. The root is URI-encoded the way Hadoop lists
    it, so roots holding a space or a ``%`` are found too. A substring
    search, not a regex: this column is the per-line aggregation key, and
    the regex form cost ~2.6s of the 27M-row reference-corpus aggregate."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(str(root).replace("\\", "/"))
    marker = hpath.toUri().getRawPath().rstrip("/") + "/"
    pos = F.instr(path, F.lit(marker))
    return F.when(pos > 0, F.substring(path, pos + len(marker), 2_147_483_647)).otherwise(path)


def pol_lines(raw: DataFrame, scan_dir: str, fallback_root: str | None = None) -> DataFrame:
    """Attach ``source_file``, ``file_size``, ``file_mtime`` and the
    ``pool_identity`` columns to a read of pool files (any columns of
    ``raw`` are kept; a ``_metadata`` column carried through a select is
    consumed and dropped).

    ``source_file`` is the file's path relative to ``scan_dir``. Git mode
    also reads files OUTSIDE ``scan_dir`` (its subdir filter is a
    reference-faithful posix substring test); those are made relative to
    ``fallback_root`` instead, like the reference's
    ``relative_to(repo_root)`` (etl/extract.py:125)."""
    meta = F.col("_metadata")
    rel = _strip_root(raw.sparkSession, meta.file_path, scan_dir)
    if fallback_root is not None:
        rel = _strip_root(raw.sparkSession, rel, fallback_root)
    return pool_identity(
        raw.withColumns(
            {
                "source_file": rel,
                "file_size": meta.file_size,
                "file_mtime": meta.file_modification_time,
            }
        ).drop("_metadata")
    )


def pool_identity(df: DataFrame) -> DataFrame:
    """Derive ``file_name``, ``folder_path`` (``'root'`` for a top-level
    file), ``parent_folder``, ``pool_id`` and ``pool_type`` from
    ``source_file`` — the one place the ``Pool_<id>_<type>`` split lives."""
    src = F.col("source_file")
    file_name = F.element_at(F.split(src, "/"), -1)
    folder = F.when(src.contains("/"), F.regexp_replace(src, r"/[^/]+$", "")).otherwise(
        F.lit("root")
    )
    parts = F.split(F.regexp_replace(file_name, r"\.pol$", ""), "_")
    return df.withColumns(
        {
            "file_name": file_name,
            "folder_path": folder,
            "parent_folder": F.element_at(F.split(folder, "/"), -1),
            "pool_id": F.get(parts, 1),
            "pool_type": F.get(parts, 2),
        }
    )


def decode_uri_path(path: Column) -> Column:
    """Percent-decode a URI-form path. A literal ``+`` stays ``+`` (Hadoop
    does not encode it, while ``url_decode`` would read it as a space)."""
    return F.url_decode(F.replace(path, F.lit("+"), F.lit("%2B")))


def read_pol_lines(spark: SparkSession, scan_dir: str) -> DataFrame:
    """Scan ``scan_dir`` recursively for pool files; one row per text line:
    value (raw line), source_file, file_size, file_mtime and the
    ``pool_identity`` columns."""
    return pol_lines(scan_pol_files(spark.read.format("text"), scan_dir), scan_dir)


def read_pol_lines_any_encoding(spark: SparkSession, scan_dir: str) -> DataFrame:
    """S4-faithful scan: like ``read_pol_lines`` but tolerating non-UTF8
    files via the reference's effective decode chain (valid UTF-8 ->
    utf-8, else latin-1 — see module docstring for why the 5-step chain
    reduces to this). Adds an ``encoding`` column ('utf-8' | 'latin-1')
    so pipelines can count salvaged files.

    Scale note: ``binaryFile`` materializes one file per row (bounded by
    a pool file's ~10 MB size, exactly like the reference's whole-file
    read at etl/extract.py:152) and does not split large files across
    tasks. Parallelism comes from file count — the right trade for a
    fleet of millions of small pool files; keep the streaming text source
    for known-UTF8 corpora."""
    valid = F.is_valid_utf8("content")
    text = F.when(valid, F.decode("content", "UTF-8")).otherwise(
        F.decode("content", "ISO-8859-1")
    )
    # one trailing newline is a line TERMINATOR, not an empty final line
    # (matches both the text source and the reference's splitlines())
    lines = F.split(F.regexp_replace(text, r"(\r\n|\r|\n)$", ""), r"\r\n|\r|\n")
    raw = scan_pol_files(spark.read.format("binaryFile"), scan_dir).select(
        F.explode(lines).alias("value"),
        F.when(valid, F.lit("utf-8")).otherwise(F.lit("latin-1")).alias("encoding"),
        F.col("_metadata"),
    )
    return pol_lines(raw, scan_dir)


def parse_pol_lines(
    lines: DataFrame, keep_invalid: bool = False, with_order: bool = False
) -> DataFrame:
    """Lenient-parse raw lines into (pool key cols, game_win, type_code).

    Mirrors reference P1/P2 semantics:
      * non-integer first token  -> line dropped (try_cast NULL filter);
        with ``keep_invalid=True`` the line is kept with game_win NULL so
        downstream can count raw lines AND valid rows in ONE scan (the
        pipeline's single-pass mode — invalid lines are rare, so the
        extra NULL group per pool in the distribution agg costs nothing)
      * third token, when integer, is ADDED to the value
      * type code (second token) is carried along (the reference's current
        code discards it, but the README-era per-type statistics R12-R14
        consume it)
      * the pool key columns come from ``pool_identity`` over
        ``source_file``
    """
    toks = F.split(F.trim(F.col("value")), r"\s+")
    base = F.get(toks, 0).try_cast("long")
    extra = F.coalesce(F.get(toks, 2).try_cast("long"), F.lit(0))

    out = pool_identity(lines).withColumn("game_win", base + extra)
    if not keep_invalid:
        out = out.where(F.col("game_win").isNotNull())
    out = out.withColumn("type_code", F.nullif(F.get(toks, 1), F.lit("")))
    cols = [*POOL_KEY_COLS, "game_win", "type_code"]
    if with_order:
        # file-order sequence for first/last-k sampling (R15): assigned at
        # scan time, before any shuffle. Within a split this follows file
        # order; files larger than maxPartitionBytes span splits whose
        # partition indices follow offset order for a single file listing.
        out = out.withColumn("_order", F.monotonically_increasing_id())
        cols.append("_order")
    return out.select(*cols)
