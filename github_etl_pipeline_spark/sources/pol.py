"""`.pol` pool-file source: one reader for every pool byte.

The reference's extract stage (etl/extract.py:27-52,83-131) reads each
``.pol`` file once: glob ``*.pol`` under the scan root, skip
``EXCLUDED_DIRS``, decode the file (S4), split it into lines (S6), key it
by its posix path relative to the root, and split the file name
``Pool_<pool_id>_<pool_type>.pol``. Here that is three pieces, and the
batch scan, the changed-files reads (``streaming/incremental.py``) and
the extended statistics all go through them:

  * ``scan_pol_files`` — a recursive ``binaryFile`` read of ``*.pol``
    under a root minus ``EXCLUDED_DIRS``, filtered on the hidden
    ``_metadata.file_path`` column.
  * ``count_pol_files`` — the only code that reads a pool file's bytes:
    one ``mapInArrow`` pass at the scan leaf gives each distinct line
    text of a file with its line count and the indexes of its first and
    last ``K`` lines. The path, decode and tokenizer rules then run in
    Spark once per distinct text, so no Spark operator sees a line.
  * ``pool_identity`` — ``file_name``, ``folder_path``, ``parent_folder``,
    ``pool_id`` and ``pool_type`` derived from ``source_file`` (reference
    P2, etl/transform.py:181-186: missing name parts become NULL like the
    reference's ``splits[1] if len>1``; ids stay strings, leading zeros
    are semantic).

Spark lists files as URIs, so on per-text rows ``source_file`` and its
derived columns are in URI form: a space is ``%20``, a literal ``%`` is
``%25``. That keeps the aggregation key a plain substring of the listed
path. ``decode_uri_path`` turns the key into the decoded posix path the
reference keys its outputs on; ``pool_kpis`` and ``pool_extended_stats``
apply it once per pool, after their aggregates.

S4 multi-encoding read (etl/extract.py:83-105): the reference tries
utf-8, utf-8-sig, latin-1, cp1252, then binary-with-replacement — but
plain utf-8 succeeds whenever utf-8-sig would (a leading BOM decodes to
U+FEFF, which makes the first line unparseable), and latin-1 maps every
byte, so the chain reduces EXACTLY to "valid UTF-8 ? utf-8 : latin-1".
The Arrow pass validates each file and Spark decodes a latin-1 file's
texts with ``decode(value, 'ISO-8859-1')``.

P1 lenient tokenizer (etl/transform.py:61-95): split on whitespace,
``int(tok0)`` else drop the line, add tok2 when it is an int, NULL when
the sum leaves int64 — ``split`` + ``try_cast`` + ``try_add``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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

#: line indexes kept per distinct text at each end of a file (R15's k)
K = 10


def drop_excluded(df: DataFrame, path: str) -> DataFrame:
    """Rows of ``df`` whose ``path`` (a column name or SQL expression) has
    no ``EXCLUDED_DIRS`` directory: one predicate."""
    hits = " OR ".join(f"contains({path}, '/{d}/')" for d in EXCLUDED_DIRS)
    return df.filter(F.expr(f"NOT ({hits})"))


def scan_pol_files(spark: SparkSession, root: str) -> DataFrame:
    """A ``binaryFile`` read of every ``*.pol`` file under ``root``,
    recursively, minus the excluded directories."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.pol")
        .load(root)
    )
    return drop_excluded(df, "_metadata.file_path")


def _strip_root(spark: SparkSession, path: str, *roots: str | None) -> str:
    """SQL text: column ``path`` cut after the first ``<root>/`` of each
    non-None root in turn, unchanged where a root is absent. Roots are
    URI-encoded as Hadoop lists them, so a space or ``%`` in one is found.
    A substring search: the regex form cost ~2.6s of the 27M-row reference
    line aggregate."""
    for root in filter(None, roots):
        hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(str(root).replace("\\", "/"))
        marker = hpath.toUri().getRawPath().rstrip("/") + "/"
        lit = "'" + marker.replace("\\", "\\\\").replace("'", "\\'") + "'"
        path = (
            f"CASE WHEN instr({path}, {lit}) > 0 "
            f"THEN substr({path}, instr({path}, {lit}) + {len(marker)}) ELSE {path} END"
        )
    return path


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


# the P1 rules as SQL text over a decoded line ``value``: the tokenizer
# (whitespace split), ``int(tok0)`` plus tok2 when it is an int (NULL when
# tok0 is not an int, as the reference drops that line, or when the sum
# leaves int64), and the type code (second token)
_TOKENS = r"split(trim(value), '\\s+')"
_PARSED = {
    "game_win": (
        f"try_add(try_cast(get({_TOKENS}, 0) AS BIGINT), "
        f"coalesce(try_cast(get({_TOKENS}, 2) AS BIGINT), 0))"
    ),
    "type_code": f"nullif(get({_TOKENS}, 1), '')",
}


def _parse(df: DataFrame) -> DataFrame:
    """``df`` with ``game_win`` and ``type_code`` derived from ``value``."""
    return df.withColumns({name: F.expr(sql) for name, sql in _PARSED.items()})


def count_pol_files(raw: DataFrame, scan_dir: str, fallback_root: str | None = None) -> DataFrame:
    """One row per distinct line text of each file of ``raw`` (a
    ``binaryFile`` read of pool files): ``source_file``, the decoded text
    ``value``, the file's ``encoding`` ('utf-8' | 'latin-1'), ``cnt``
    lines, ``positions`` (the 0-based indexes of the text's first and last
    ``K`` lines, ascending), ``game_win`` (NULL for a blank or unparseable
    line) and ``type_code``. ``source_file`` is relative to ``scan_dir``,
    or to ``fallback_root`` for the changed files read outside it (the
    reference's ``relative_to(repo_root)``, etl/extract.py:125).

    Lines end as in ``bytes.splitlines`` (``\\n``, ``\\r``, ``\\r\\n``; no
    empty line after a final terminator; none in a 0-byte file), and a
    leading UTF-8 BOM stays in the first line. Memory: a whole file is
    one Arrow row (as etl/extract.py:152 reads it) and a batch holds
    files of one scan partition: at most
    ``spark.sql.files.maxPartitionBytes`` plus one larger file. A file
    over ``spark.sql.sources.binaryFile.maxLength`` fails the read."""

    def count_lines(batches):  # local, so cloudpickle ships it by value
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def encoding(content, i):
            try:
                content.slice(i, 1).view(pa.string()).validate(full=True)
                return "utf-8"
            except pa.ArrowInvalid:
                return "latin-1"

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
            f = np.searchsorted(ends, stops - 1, "right")
            # one id per distinct text, whatever terminator ends its lines
            with_term = pc.dictionary_encode(lines)
            texts = pc.dictionary_encode(
                pc.replace_substring_regex(with_term.dictionary, r"(\r\n|\r|\n)$", "")
            )
            t = np.asarray(texts.indices)[np.asarray(with_term.indices)]
            at = np.arange(len(f)) - np.searchsorted(f, np.arange(len(content)))[f]
            # single-threaded, so each list keeps its lines in file order
            g = pa.table({"f": f, "t": t, "at": at}).group_by(["f", "t"], use_threads=False)
            g = g.aggregate([("at", "list")])
            lists = g["at_list"].combine_chunks()
            starts = np.asarray(lists.offsets)
            n = np.diff(starts).astype(np.int64)
            rank = np.arange(starts[-1]) - np.repeat(starts[:-1], n)
            keep = pa.array((rank < K) | (rank >= np.repeat(n - K, n)))
            kept = pa.array(np.concatenate(([0], np.cumsum(np.minimum(n, 2 * K)))), pa.int32())
            positions = pa.ListArray.from_arrays(kept, lists.values.filter(keep))
            codes = pa.array([encoding(content, i) for i in range(len(content))])
            yield from pa.table(
                {
                    "path": pc.take(rb.column(0), g["f"]),
                    "value": pc.take(texts.dictionary, g["t"]),
                    "encoding": pc.take(codes, g["f"]),
                    "cnt": n,
                    "positions": positions,
                }
            ).to_batches()

    counted = raw.selectExpr("_metadata.file_path", "content").mapInArrow(
        count_lines, "path string, value binary, encoding string, cnt long, positions array<long>"
    )
    decode = (
        "CASE WHEN encoding = 'utf-8' THEN CAST(value AS STRING) "
        "ELSE decode(value, 'ISO-8859-1') END"
    )
    return _parse(
        counted.selectExpr(
            f"{_strip_root(raw.sparkSession, 'path', scan_dir, fallback_root)} AS source_file",
            f"{decode} AS value",
            "encoding",
            "cnt",
            "positions",
        )
    )


def read_pol_lines(spark: SparkSession, scan_dir: str) -> DataFrame:
    """``count_pol_files`` over every pool file under ``scan_dir``, with
    the ``pool_identity`` columns: one row per distinct line text of a
    file, its lines counted in ``cnt``."""
    return pool_identity(count_pol_files(scan_pol_files(spark, scan_dir), scan_dir))


def parse_pol_lines(lines: DataFrame, keep_invalid: bool = False) -> DataFrame:
    """Lenient-parse the line texts in ``value`` into (pool key cols,
    game_win, type_code), carrying ``cnt`` and ``positions`` through when
    ``lines`` has them (``read_pol_lines``); a row without ``cnt`` is one
    line.

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
    out = pool_identity(_parse(lines))
    if not keep_invalid:
        out = out.where("game_win IS NOT NULL")
    carried = [c for c in ("cnt", "positions") if c in lines.columns]
    return out.select(*POOL_KEY_COLS, "game_win", "type_code", *carried)
