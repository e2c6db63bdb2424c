"""load_game_lookup: the stdlib xlsx reader and the pandas.read_excel
branch give the same rows for the same sheet, blank cells included (a
blank Bet is NaN, a blank Game / Game_id is NULL, a blank Pool_id drops
the row), and prepare_dim accepts them."""

import zipfile

import numpy as np
import pandas as pd

from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim

_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_SHARED = ["Game", "Game_id", "Pool_id", "Bet", "Pharaoh", "0201", "Lucky", "L1"]
# (ref, type, value): "s" = shared-string index, "n" = number, None = a
# cell element with no value; cells absent from a row are blank too
_ROWS = [
    [("A1", "s", 0), ("B1", "s", 1), ("C1", "s", 2), ("D1", "s", 3)],
    [("A2", "s", 4), ("B2", "n", "9493"), ("C2", "s", 5), ("D2", "n", "25")],
    [("A3", "s", 4), ("B3", "n", "6371"), ("C3", "n", "6371")],
    [("A4", None, None), ("C4", "n", "7001"), ("D4", "n", "10.5")],
    [("A5", "s", 6), ("B5", "s", 7), ("D5", "n", "5")],
]
# the same sheet as pandas.read_excel returns it: NaN for every blank
_FRAME = pd.DataFrame(
    {
        "Game": ["Pharaoh", "Pharaoh", np.nan, "Lucky"],
        "Game_id": [9493, 6371, np.nan, "L1"],
        "Pool_id": ["0201", 6371, 7001, np.nan],
        "Bet": [25.0, np.nan, 10.5, 5.0],
    }
)
_EXPECTED = [
    ("Pharaoh", "9493", "0201", 25.0),
    ("Pharaoh", "6371", "6371", float("nan")),
    (None, None, "7001", 10.5),
]


def _cell(ref, kind, value) -> str:
    if kind is None:
        return f'<c r="{ref}"/>'
    t = ' t="s"' if kind == "s" else ""
    return f'<c r="{ref}"{t}><v>{value}</v></c>'


def _write_xlsx(path) -> None:
    sheet_rows = "".join(
        f'<row r="{i}">' + "".join(_cell(*c) for c in row) + "</row>"
        for i, row in enumerate(_ROWS, start=1)
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        )
        z.writestr("xl/workbook.xml", f'<workbook {_NS}><sheets/></workbook>')
        z.writestr(
            "xl/sharedStrings.xml",
            f"<sst {_NS}>" + "".join(f"<si><t>{s}</t></si>" for s in _SHARED) + "</sst>",
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f"<worksheet {_NS}><sheetData>{sheet_rows}</sheetData></worksheet>",
        )


def _read(spark, root, monkeypatch, read_excel):
    monkeypatch.setattr(pd, "read_excel", read_excel)
    return [tuple(r) for r in load_game_lookup(spark, root).collect()]


def test_both_reader_branches_give_the_same_rows(spark, tmp_path, monkeypatch):
    _write_xlsx(tmp_path / "game_id_to_pools.xlsx")

    def no_openpyxl(path):
        raise ImportError("openpyxl")

    stdlib_rows = _read(spark, tmp_path, monkeypatch, no_openpyxl)
    pandas_rows = _read(spark, tmp_path, monkeypatch, lambda path: _FRAME.copy())
    # repr, so that the NaN Bet compares equal to NaN
    assert repr(stdlib_rows) == repr(_EXPECTED)
    assert repr(pandas_rows) == repr(_EXPECTED)

    # driver-built rows are a local relation: reading them needs no
    # Python worker (a list-built createDataFrame runs a Python RDD)
    lookup = load_game_lookup(spark, tmp_path)
    assert "LocalTableScan" in lookup._jdf.queryExecution().executedPlan().toString()
    dim = prepare_dim(lookup)
    by_key = {r.dim_pool_id: r for r in dim.collect()}
    assert sorted(by_key) == ["0201", "6371", "7001"]
    assert np.isnan(by_key["6371"].min_bet)
    assert by_key["7001"].game_ids == [None]
