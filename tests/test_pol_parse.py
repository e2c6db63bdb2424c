"""P1/P2 parser unit tests (reference etl/transform.py:61-95, 181-186)."""

import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.operators.kpis import pool_kpis
from github_etl_pipeline_spark.sources.pol import parse_pol_lines


def _lines_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                v,
                "samples/Pool_0201_395.pol",
                "Pool_0201_395.pol",
                "samples",
                "samples",
                100,
                None,
            )
            for v in rows
        ],
        "value string, source_file string, file_name string, folder_path string, "
        "parent_folder string, file_size long, file_mtime timestamp",
    )


def test_parse_basic_and_lenient(spark):
    df = _lines_df(
        spark,
        [
            "1800 TB2",          # value + type code
            "900 TB3 100",       # third column added in
            "515",               # value only
            "",                  # blank -> dropped
            "abc TB2",           # non-int first token -> dropped
            "700 TB1 xyz",       # non-int third token -> ignored
            "  25  TF1  5  ",    # whitespace tolerant
            "0",                 # zero win kept
        ],
    )
    got = parse_pol_lines(df).select("game_win", "type_code").orderBy("game_win").collect()
    assert [(r.game_win, r.type_code) for r in got] == [
        (0, None),
        (30, "TF1"),
        (515, None),
        (700, "TB1"),
        (1000, "TB3"),
        (1800, "TB2"),
    ]


def test_filename_parse(spark):
    df = _lines_df(spark, ["5"])
    row = parse_pol_lines(df).first()
    assert row.pool_id == "0201" and row.pool_type == "395"


def test_filename_parse_missing_parts(spark):
    df = spark.createDataFrame(
        [("5", "x/weird.pol", "weird.pol", "x", "x", 1, None)],
        "value string, source_file string, file_name string, folder_path string, "
        "parent_folder string, file_size long, file_mtime timestamp",
    )
    row = parse_pol_lines(df).first()
    assert row.pool_id is None and row.pool_type is None


def test_inventory_counts_raw_lines(spark):
    # single-pass mode: unparseable lines count in line_count, not size
    df = _lines_df(spark, ["1", "garbage", "2"])
    rec = pool_kpis(parse_pol_lines(df, keep_invalid=True)).first()
    assert rec.line_count == 3 and rec.size == 2
    assert rec.pool_id == "0201"


def test_sum_past_int64_is_null_not_an_error(spark, tmp_path):
    """A first and third token that each fit int64 but whose sum does not
    give game_win NULL (ROADMAP's int64-overflow rule): the line counts
    in line_count, not in size, and the run does not fail."""
    from github_etl_pipeline_spark.pipeline import run_pipeline

    rows = ["9223372036854775807 X 1", "-9223372036854775808 X -1", "5 X 2"]
    got = parse_pol_lines(_lines_df(spark, rows), keep_invalid=True).collect()
    assert sorted((r.game_win for r in got), key=str) == [7, None, None]

    (tmp_path / "Pool_0201_395.pol").write_text("\n".join(rows) + "\n")
    pools, _ = run_pipeline(spark, tmp_path)
    rec = pools.first()
    assert (rec.line_count, rec.size, rec.total_win) == (3, 1, 7)


def _reference_decode_chain(raw: bytes) -> str:
    """The reference's read_pol_file fallback (etl/extract.py:83-105):
    first of utf-8 / utf-8-sig / latin-1 / cp1252 that decodes, else
    binary errors='replace'."""
    for enc in ("utf-8", "utf-8-sig", "latin-1", "cp1252"):
        try:
            return raw.decode(enc)
        except UnicodeDecodeError:
            continue
    return raw.decode("utf-8", errors="replace")


def test_any_encoding_scan_matches_reference_chain(spark, tmp_path):
    from github_etl_pipeline_spark.sources.pol import read_pol_lines

    latin1_content = "100 Té1\n200 ABC\nnotanint é\n515\n"
    (tmp_path / "Pool_0201_395.pol").write_bytes(latin1_content.encode("latin-1"))
    (tmp_path / "Pool_0202_941.pol").write_bytes(b"300 TB1\n400\n")
    (tmp_path / "Pool_0203_941.pol").write_bytes("﻿42 BOM\n7\n".encode("utf-8"))

    lines = read_pol_lines(spark, str(tmp_path))
    enc = {r.file_name: r.encoding for r in lines.select("file_name", "encoding").distinct().collect()}
    assert enc == {
        "Pool_0201_395.pol": "latin-1",
        "Pool_0202_941.pol": "utf-8",
        "Pool_0203_941.pol": "utf-8",
    }

    # decoded text must equal the reference chain byte-for-byte (one row
    # per distinct text, its lines counted in cnt)
    got = sorted(
        (r.file_name, r.value)
        for r in lines.select("file_name", "value", "cnt").collect()
        for _ in range(r.cnt)
    )
    expect = []
    for f in tmp_path.glob("*.pol"):
        for line in _reference_decode_chain(f.read_bytes()).splitlines():
            expect.append((f.name, line))
    assert got == sorted(expect)

    # and the parsed rows flow through the normal P1/P2 path
    parsed = parse_pol_lines(lines)
    wins = {
        r.pool_id: sorted(
            x.game_win
            for x in parsed.where(F.col("pool_id") == r.pool_id).collect()
            for _ in range(x.cnt)
        )
        for r in parsed.select("pool_id").distinct().collect()
    }
    assert wins == {"0201": [100, 200, 515], "0202": [300, 400], "0203": [7]}
    type_codes = {
        (r.pool_id, r.game_win): r.type_code for r in parsed.collect()
    }
    assert type_codes[("0201", 100)] == "Té1"  # latin-1 byte survived the decode
