"""Game lookup dimension (reference S7/J1/J2).

The reference loads ``game_id_to_pools.xlsx`` driver-side with pandas and
memoizes it in a module global (etl/transform.py:27-58), then per pool
takes the FIRST matching row's Bet and collects ALL matching Game_ids
(etl/transform.py:213-215).

Spark-first shape: the dimension is tiny (hundreds of rows at fleet
scale), so it is read driver-side, pre-aggregated to exactly one row per
normalized pool key, and broadcast — the fact-side join is then a 1:1
broadcast hash join with no row explosion and no shuffle.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType, StructField, StructType

from github_etl_pipeline_spark.functions.keys import normalize_pool_id
from github_etl_pipeline_spark.session import local_frame
from github_etl_pipeline_spark.sinks.upsert import collect_at_most

LOOKUP_SCHEMA = StructType(
    [
        StructField("Game", StringType()),
        StructField("Game_id", StringType()),
        StructField("Pool_id", StringType()),
        StructField("Bet", DoubleType()),
    ]
)

#: ``prepare_dim``'s output: one row per normalized pool key
DIM_AGG_SCHEMA = StructType(
    [
        StructField("norm_pool_id", StringType()),
        StructField("dim_pool_id", StringType()),
        StructField("min_bet", DoubleType()),
        StructField("game_ids", ArrayType(StringType())),
        StructField("_n_spellings", LongType()),
    ]
)

# candidate locations, mirroring etl/transform.py:43-47
_CANDIDATE_SUBPATHS = ("game_id_to_pools.xlsx", "config/game_id_to_pools.xlsx", "data/game_id_to_pools.xlsx")


def _read_xlsx_rows(path: Path) -> list[dict]:
    """Minimal stdlib xlsx reader (zip of XML): first sheet, first row as
    headers. Used when openpyxl is unavailable — the lookup is a simple
    rectangular sheet, which this covers; anything fancier should go
    through pandas.read_excel."""
    import re
    import zipfile
    from xml.etree import ElementTree

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ElementTree.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")) for si in root]
        sheet_name = next(
            n for n in z.namelist() if re.fullmatch(r"xl/worksheets/sheet1\.xml", n)
        )
        root = ElementTree.fromstring(z.read(sheet_name))
        rows: list[dict[int, str]] = []
        for row in root.iter(f"{{{ns['m']}}}row"):
            cells: dict[int, str] = {}
            for c in row.iter(f"{{{ns['m']}}}c"):
                ref = c.attrib.get("r", "A1")
                col = 0
                for ch in ref:
                    if ch.isalpha():
                        col = col * 26 + (ord(ch.upper()) - 64)
                v = c.find(f"{{{ns['m']}}}v")
                raw = v.text if v is not None else None
                if raw is not None and c.attrib.get("t") == "s":
                    raw = shared[int(raw)]
                cells[col - 1] = raw
            rows.append(cells)
    if not rows:
        return []
    headers = rows[0]
    out = []
    for cells in rows[1:]:
        if not cells:
            continue
        out.append({headers.get(i): cells.get(i) for i in headers})
    return out


def _blank(x) -> bool:
    """A blank sheet cell: None from the stdlib reader, NaN from pandas."""
    return x is None or (isinstance(x, float) and math.isnan(x))


def _cell_str(x) -> str | None:
    """A string cell, NULL when blank; integer-valued numerics (xlsx
    stores ids as floats) read as '6371', not '6371.0'."""
    if _blank(x):
        return None
    if isinstance(x, float) and x == int(x):
        return str(int(x))
    if isinstance(x, str) and x.endswith(".0") and x[:-2].isdigit():
        return x[:-2]
    return str(x)


def load_game_lookup(spark: SparkSession, repo_root: str | Path) -> DataFrame | None:
    """Probe candidate paths for the xlsx and return the raw dimension
    DataFrame (Game, Game_id, Pool_id as strings, Bet double), or None.

    Prefers pandas.read_excel (openpyxl); falls back to a stdlib xlsx
    parser when openpyxl is not installed. Both give the same rows: a
    blank Game / Game_id is NULL, a blank Bet is NaN (what
    ``pd.read_excel`` gives), and a row with a blank Pool_id is
    skipped."""
    for sub in _CANDIDATE_SUBPATHS:
        path = Path(repo_root) / sub
        if not path.exists():
            continue
        try:
            import pandas as pd

            pdf = pd.read_excel(path)
            records = pdf.to_dict("records")
        except ImportError:
            records = _read_xlsx_rows(path)
        rows = []
        for r in records:
            if _blank(r.get("Pool_id")):
                continue
            bet = r.get("Bet")
            rows.append(
                (
                    _cell_str(r.get("Game")),
                    _cell_str(r.get("Game_id")),
                    _cell_str(r.get("Pool_id")),
                    math.nan if _blank(bet) else float(bet),
                )
            )
        return local_frame(spark, rows, LOOKUP_SCHEMA)
    return None


def prepare_dim(dim: DataFrame, max_rows: int = 100_000) -> DataFrame:
    """Pre-aggregate the dimension to one row per normalized pool key.

    * ``min_bet``  — Bet of the FIRST row in source order (the reference's
      ``tmp['Bet'].iloc[0]``);
    * ``game_ids`` — ALL Game_ids for the key, in source order;
    * ``dim_pool_id`` — the first row's raw Pool_id, for the fact-side
      reference-match gate (functions/keys.py ``reference_match_sql``);
    * ``_n_spellings`` — distinct non-NULL Pool_ids under the key (J1
      edge, SURVEY §4: two spellings that differ only in zero padding
      would make the reference's exact-match-first fallback diverge from
      the normalized join; ``assert_dim_unambiguous`` surfaces it).

    Pre-aggregating before the fact join avoids fan-out: the join is 1:1,
    so a million-row pool never duplicates into (pool_rows x games) rows.

    DIMENSION-ONLY operator: the lookup is hundreds of rows, so it is
    collected to the driver once (``collect_at_most``, with the key
    normalized by the same Spark expression the fact side joins on),
    grouped there in collect order — which is source order — and
    returned as a local relation. The collect is one Spark job; the
    broadcast of the local relation in the fact join is one more small
    job (a ``BroadcastExchange`` over a ``LocalTableScan``, 20-95 ms on a
    4-core host) when the join's plan runs. ``max_rows`` is the one
    bound: a larger input raises ``ValueError`` at call time; raise it
    deliberately if a legitimately larger dimension appears.
    """
    rows = collect_at_most(
        dim.select(normalize_pool_id("Pool_id"), "Pool_id", "Bet", "Game_id"), int(max_rows)
    )
    if rows is None:
        raise ValueError(
            f"prepare_dim: dimension has >{max_rows} rows; this operator "
            "collects its input to the driver and is meant for small "
            "lookup dimensions only. Pass max_rows=... to override "
            "deliberately, or pre-aggregate the input."
        )
    groups: dict[str, dict] = {}
    for key, pool_id, bet, game_id in rows:
        g = groups.get(key)
        if g is None:
            g = groups[key] = {
                "dim_pool_id": pool_id,
                "min_bet": bet,
                "game_ids": [],
                "spellings": set(),
            }
        g["game_ids"].append(game_id)
        if pool_id is not None:
            g["spellings"].add(pool_id)
    return local_frame(
        dim.sparkSession,
        (
            (key, g["dim_pool_id"], g["min_bet"], g["game_ids"], len(g["spellings"]))
            for key, g in groups.items()
        ),
        DIM_AGG_SCHEMA,
    )


def assert_dim_unambiguous(dim_agg: DataFrame) -> None:
    bad = dim_agg.where(F.col("_n_spellings") > 1).count()
    if bad:
        raise ValueError(
            f"{bad} normalized pool key(s) map to multiple distinct Pool_id "
            "spellings in the lookup; the reference's exact-match-first join "
            "would be ambiguous here."
        )
