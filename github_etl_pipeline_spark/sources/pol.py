"""`.pol` pool-file source: the one scan path every reader shares.

The reference's extract stage (etl/extract.py:27-52,108-131) makes one
decision: glob ``*.pol`` under the scan root, skip ``EXCLUDED_DIRS``, key
each file by its posix path relative to the root, and split the file name
``Pool_<pool_id>_<pool_type>.pol``. Here that decision is three pieces,
and the batch scan and the changed-files reads (``streaming/incremental.py``)
go through them:

  * ``scan_pol_files`` — a recursive ``*.pol`` read under a root
    (``recursiveFileLookup`` + ``pathGlobFilter``) minus ``EXCLUDED_DIRS``,
    filtered on the hidden ``_metadata.file_path`` column. It takes the
    reader, so text and ``binaryFile`` reads share it.
  * ``pol_lines`` — the projection from ``_metadata`` to ``source_file``
    (the path relative to the scan root), ``file_size`` and
    ``file_mtime`` for the line-level text readers. ``count_pol_files``,
    ``pool_kpis``' input, projects the same ``source_file`` onto per-file
    line counts made in Arrow, so on that path no Spark operator sees a line.
  * ``pool_identity`` — ``file_name``, ``folder_path``, ``parent_folder``,
    ``pool_id`` and ``pool_type`` derived from ``source_file`` (reference
    P2, etl/transform.py:181-186: missing name parts become NULL like the
    reference's ``splits[1] if len>1``; ids stay strings, leading zeros
    are semantic).

Spark lists files as URIs, so on lines ``source_file`` and its derived
columns are in URI form: a space is ``%20``, a literal ``%`` is ``%25``.
That keeps the per-line aggregation key a plain substring of the listed
path. ``decode_uri_path`` turns the key into the decoded posix path the
reference keys its outputs on; ``pool_kpis`` and ``pool_extended_stats``
apply it once per pool, after their aggregates, so no line pays for it.

S4 multi-encoding read (etl/extract.py:83-105): ``read_pol_lines`` and
``count_pol_files`` read UTF-8 (correct for this ASCII corpus);
``read_pol_lines_any_encoding`` is the faithful fallback chain. The
reference tries utf-8, utf-8-sig, latin-1, cp1252, then
binary-with-replacement — but plain utf-8 succeeds whenever utf-8-sig
would (the BOM decodes to U+FEFF), and latin-1 maps every byte, so the
chain reduces EXACTLY to "valid UTF-8 ? utf-8 : latin-1", which
``is_valid_utf8`` + ``decode`` express over a ``binaryFile`` scan.

P1 lenient tokenizer (etl/transform.py:61-95): split on whitespace,
``int(tok0)`` else drop the line, add tok2 when it is an int, NULL when
the sum leaves int64 — ``split`` + ``try_cast`` + ``try_add``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F

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


def drop_excluded(df: DataFrame, path: str) -> DataFrame:
    """Rows of ``df`` whose ``path`` (a column name or SQL expression) has
    no ``EXCLUDED_DIRS`` directory: one predicate."""
    hits = " OR ".join(f"contains({path}, '/{d}/')" for d in EXCLUDED_DIRS)
    return df.filter(F.expr(f"NOT ({hits})"))


def scan_pol_files(reader: DataFrameReader, root: str) -> DataFrame:
    """Every ``*.pol`` file under ``root``, recursively, minus the excluded
    directories, read by ``reader`` (``spark.read.format("text")`` or
    ``binaryFile``)."""
    df = (
        reader.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.pol")
        .load(root)
    )
    return drop_excluded(df, "_metadata.file_path")


def _strip_root(spark: SparkSession, path: Column, *roots: str | None) -> Column:
    """``path`` cut after the first ``<root>/`` of each non-None root in
    turn, unchanged where a root is absent. Roots are URI-encoded as Hadoop
    lists them, so a space or ``%`` in one is found. A substring search:
    the regex form cost ~2.6s of the 27M-row reference line aggregate."""
    for root in filter(None, roots):
        hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(str(root).replace("\\", "/"))
        marker = hpath.toUri().getRawPath().rstrip("/") + "/"
        pos = F.instr(path, F.lit(marker))
        path = F.when(pos > 0, F.substring(path, pos + len(marker), 2_147_483_647)).otherwise(path)
    return path


def pol_lines(raw: DataFrame, scan_dir: str) -> DataFrame:
    """Attach ``source_file`` (the file's path relative to ``scan_dir``),
    ``file_size``, ``file_mtime`` and the ``pool_identity`` columns to a
    read of pool files (any columns of ``raw`` are kept; a ``_metadata``
    column carried through a select is consumed and dropped)."""
    meta = F.col("_metadata")
    return pool_identity(
        raw.withColumns(
            {
                "source_file": _strip_root(raw.sparkSession, meta.file_path, scan_dir),
                "file_size": meta.file_size,
                "file_mtime": meta.file_modification_time,
            }
        ).drop("_metadata")
    )


# ``pool_identity``'s rules as SQL text over ``source_file``, each parsed
# by one JVM call
_FILE_NAME = "element_at(split(source_file, '/'), -1)"
_FOLDER = (
    "CASE WHEN contains(source_file, '/') "
    "THEN regexp_replace(source_file, '/[^/]+$', '') ELSE 'root' END"
)
_NAME_PARTS = rf"split(regexp_replace({_FILE_NAME}, '\\.pol$', ''), '_')"
_POOL_IDENTITY = {
    "file_name": _FILE_NAME,
    "folder_path": _FOLDER,
    "parent_folder": f"element_at(split({_FOLDER}, '/'), -1)",
    "pool_id": f"get({_NAME_PARTS}, 1)",
    "pool_type": f"get({_NAME_PARTS}, 2)",
}


def pool_identity(df: DataFrame) -> DataFrame:
    """Derive ``file_name``, ``folder_path`` (``'root'`` for a top-level
    file), ``parent_folder``, ``pool_id`` and ``pool_type`` from
    ``source_file`` — the one place the ``Pool_<id>_<type>`` split lives."""
    return df.withColumns({name: F.expr(sql) for name, sql in _POOL_IDENTITY.items()})


def decode_uri_path(path: str) -> Column:
    """Percent-decode the URI-form path in column ``path``. A literal ``+``
    stays ``+`` (Hadoop does not encode it, while ``url_decode`` would read
    it as a space)."""
    return F.expr(f"url_decode(replace({path}, '+', '%2B'))")


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
    so pipelines can count salvaged files. Memory: one whole file per row,
    as in ``count_pol_files``."""
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


def _tokens(value: Column) -> Column:
    """P1 lenient tokenizer (etl/transform.py:61-95): a raw line split on
    whitespace."""
    return F.split(F.trim(value), r"\s+")


def _game_win(toks: Column) -> Column:
    """``int(tok0)`` plus tok2 when it is an int; NULL when tok0 is not an
    int (the reference drops that line) or the sum leaves int64."""
    base = F.get(toks, 0).try_cast("long")
    return F.try_add(base, F.coalesce(F.get(toks, 2).try_cast("long"), F.lit(0)))


def count_pol_files(raw: DataFrame, scan_dir: str, fallback_root: str | None = None) -> DataFrame:
    """``(source_file, game_win, cnt)`` over a ``binaryFile`` read of pool
    files: one row per distinct line text of a file, blank and invalid
    lines under game_win NULL. ``source_file`` is relative to ``scan_dir``,
    or to ``fallback_root`` for the changed files read outside it (the
    reference's ``relative_to(repo_root)``, etl/extract.py:125).

    One ``mapInArrow`` at the scan leaf splits each file into lines and
    counts them per text, so the path filter, ``_strip_root`` and the
    tokenizer run once per file or distinct text, never per line. Lines
    end as in the text source (``\\n``, ``\\r``, ``\\r\\n``; no empty line
    after a final terminator; none in a 0-byte file), bytes are cast, not
    decoded, but a leading UTF-8 BOM is kept. Memory: a whole file is one
    Arrow row (as etl/extract.py:152 reads it) and a batch holds files of
    one scan partition: at most ``spark.sql.files.maxPartitionBytes`` plus
    one larger file. A file over ``spark.sql.sources.binaryFile.maxLength``
    fails the read."""

    def count_lines(batches):  # local, so cloudpickle ships it by value
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            content = rb.column(1)
            if not pc.sum(pc.binary_length(content)).as_py():  # no rows or only 0-byte files
                continue
            _, offsets, data = content.buffers()
            offs = np.frombuffer(offsets, np.int32, len(content) + 1, content.offset * 4)
            lo, ends = int(offs[0]), offs[1:] - offs[0]
            b = np.frombuffer(data, np.uint8, int(ends[-1]), lo)
            # a line ends after "\n", after "\r" unless "\n" follows, and at a file's end
            term, cr = b == 10, b == 13
            cr[:-1] &= ~term[1:]
            term |= cr
            term[ends[ends > offs[:-1] - lo] - 1] = True
            stops = np.flatnonzero(term) + 1
            line_offs = pa.py_buffer(np.concatenate(([0], stops)).astype(np.int32) + lo)
            lines = pa.Array.from_buffers(pa.binary(), len(stops), [None, line_offs, data])
            g = pa.table({"f": np.searchsorted(ends, stops - 1, "right"), "v": lines})
            g = g.group_by(["f", "v"]).aggregate([([], "count_all")])
            # each text still ends in its terminator: strip it and regroup
            v = pc.replace_substring_regex(g["v"], r"(\r\n|\r|\n)$", "")
            g = pa.table({"f": g["f"], "v": v, "n": g["count_all"]})
            g = g.group_by(["f", "v"]).aggregate([("n", "sum")])
            path = pc.take(rb.column(0), g["f"])
            yield from pa.table({"path": path, "value": g["v"], "cnt": g["n_sum"]}).to_batches()

    counted = raw.select(F.col("_metadata.file_path"), "content").mapInArrow(
        count_lines, "path string, value binary, cnt long"
    )
    return counted.select(
        _strip_root(raw.sparkSession, F.col("path"), scan_dir, fallback_root).alias("source_file"),
        _game_win(_tokens(F.col("value").cast("string"))).alias("game_win"),
        "cnt",
    )


def parse_pol_lines(
    lines: DataFrame, keep_invalid: bool = False, with_order: bool = False
) -> DataFrame:
    """Lenient-parse raw lines into (pool key cols, game_win, type_code).

    Mirrors reference P1/P2 semantics:
      * non-integer first token  -> line dropped (try_cast NULL filter);
        with ``keep_invalid=True`` the line is kept with game_win NULL so
        downstream can count raw lines AND valid rows in ONE scan
      * third token, when integer, is ADDED to the value
      * type code (second token) is carried along (the reference's current
        code discards it, but the README-era per-type statistics R12-R14
        consume it)
      * the pool key columns come from ``pool_identity`` over
        ``source_file``
    """
    toks = _tokens(F.col("value"))
    out = pool_identity(lines).withColumn("game_win", _game_win(toks))
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
