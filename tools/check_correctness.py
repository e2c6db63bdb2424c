#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every registry
query through Spark AND its DuckDB oracle at sf0.01, compare row count,
schema (column names), and values (columns sorted by name, rows sorted
by every column, floats compared to 1e-9 relative tolerance).

Usage: python tools/check_correctness.py [--json OUT.json] [query ...]
Exit 0 iff every checked query matches; exit 2, before any Spark work,
when a named query is not registered. The session warm-up is
tools/harness.py's.

With --json, per-query results (status, rows, seconds, mismatch reason)
are written to OUT.json — committed each round as CHECK_LOCAL.json so
coverage of queries the driver's rotating sample skipped stays auditable.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        v = df[c]
        # unify temporal/decimal spellings across engines
        if pd.api.types.is_datetime64_any_dtype(v):
            df[c] = v.astype("datetime64[us]").astype(str)
        elif v.dtype == object:
            df[c] = v.map(
                lambda x: str(sorted(x))
                if isinstance(x, (list, np.ndarray))
                else (str(x) if isinstance(x, (dict,)) else x)
            )
    sort_cols = list(df.columns)
    try:
        df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    except Exception:
        df = df.astype(str).sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    return df


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            both_nan = np.isnan(aa) & np.isnan(bb)
            ok = both_nan | np.isclose(aa, bb, rtol=1e-9, atol=1e-12)
            if not ok.all():
                i = int(np.argmin(ok))
                return False, f"col {c} row {i}: {aa[i]!r} vs {bb[i]!r}"
        else:
            aa = av.astype(str).to_numpy()
            bb = bv.astype(str).to_numpy()
            if not (aa == bb).all():
                i = int(np.argmin(aa == bb))
                return False, f"col {c} row {i}: {aa[i]!r} vs {bb[i]!r}"
    return True, ""


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only = set(args)
    results: dict[str, dict] = {}

    import duckdb

    import __spark_entry__ as entry
    from github_etl_pipeline_spark.session import managed_caches, sweep_caches
    from tools import harness

    queries = entry.queries()
    unknown = only - set(queries)
    if unknown:
        print(f"not registered: {sorted(unknown)}")
        return 2

    spark = harness.session("check_correctness", sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entry.oracle_sql()
    failures = []
    # managed_caches: per-query sweeps keep queries independent; the
    # context guarantees a swept session even when a builder raises
    with managed_caches(spark):
        for name, fn in queries.items():
            if only and name not in only:
                continue
            t0 = time.perf_counter()
            try:
                sdf = fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"spark error: {e}"))
                print(f"ERR  {name}: spark error: {e}")
                results[name] = {"status": "spark_error", "err": str(e)[:500]}
                continue
            sweep_caches(spark)
            secs = round(time.perf_counter() - t0, 2)
            if name not in oracles:
                print(f"rows_only  {name}: {len(sdf)} rows  ({secs}s)")
                results[name] = {
                    "status": "rows_only", "spark_rows": len(sdf), "sec": secs
                }
                continue
            try:
                odf = con.execute(oracles[name]).fetchdf()
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"oracle error: {e}"))
                print(f"ERR  {name}: oracle error: {e}")
                results[name] = {"status": "oracle_error", "err": str(e)[:500]}
                continue
            ok, why = _values_match(_normalize(sdf), _normalize(odf))
            status = "ok" if ok else "MISMATCH"
            print(f"{status:9s}  {name}: {len(sdf)}/{len(odf)} rows  ({secs}s)")
            results[name] = {
                "status": status,
                "spark_rows": len(sdf),
                "oracle_rows": len(odf),
                "sec": secs,
            }
            if not ok:
                failures.append((name, why))
                results[name]["why"] = why
                print(f"           -> {why}")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": results}, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{len(failures)} failures")
    for name, why in failures:
        print(f"  {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
