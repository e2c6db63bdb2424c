"""Round-3 hardening: session-timezone robustness of the literal-dated
TPC-H SQL, the funnel's heavy-user skew story, and the dtype dispatch of
functions/epoch.py (VERDICT r2 items 1, 6, 7)."""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.epoch import event_micros
from github_etl_pipeline_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# literal-dated queries: every one whose shared SQL carries a TIMESTAMP
# literal compared against a TIMESTAMP_NTZ testdata column
TZ_SENSITIVE = [
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q12_late_shipments",
    "tpch_q15_top_supplier",
]


def _oracle(name: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con.execute(REGISTRY[name].oracle).fetchdf()


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_timestamp_literals_survive_non_utc_session_tz(spark, name):
    """TIMESTAMP literals in the shared SQL are rewritten TIMESTAMP_NTZ on
    the Spark side (_spark_sql_text), so predicate boundaries compare
    naive-to-naive and cannot shift with spark.sql.session.timeZone. Run
    under a deliberately hostile tz (UTC+5:30, non-whole-hour) and demand
    the oracle's exact rows."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        got = REGISTRY[name].builder(spark, SF).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want = _oracle(name)
    got = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    want = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    assert len(got) == len(want), (name, len(got), len(want))
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            assert (abs(a.astype(float) - b.astype(float)) < 1e-6).all(), (name, c)
        else:
            assert (a.astype(str) == b.astype(str)).all(), (name, c)


def _write_events(tmp_path, rows):
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    df["ts"] = pd.to_datetime(df["ts"], unit="us")  # timestamp[us] like the testdata
    df.to_parquet(tmp_path / "events.parquet")
    return str(tmp_path)


def test_funnel_heavy_user_skew(spark, tmp_path):
    """A synthetic heavy user (50k events) among normal users: the funnel
    must stay correct AND its plan must carry no per-user array collection
    (the skew hazard flagged in round 2 — conditional window MINs keep
    aggregate state O(1) per user)."""
    rows = []
    eid = 0
    # heavy user 1: 50k alternating views/clicks, purchase at the end
    for i in range(50_000):
        et = "view" if i % 2 == 0 else "click"
        rows.append((eid, 1_000_000 + i * 1_000, 1, et, 1.0, ""))
        eid += 1
    rows.append((eid, 1_000_000 + 60_000_000, 1, "purchase", 1.0, ""))
    eid += 1
    # user 2 converts fully, user 3 views only, user 4 clicks before viewing
    rows += [
        (eid + 0, 10_000_000, 2, "view", 1.0, ""),
        (eid + 1, 11_000_000, 2, "click", 1.0, ""),
        (eid + 2, 12_000_000, 2, "purchase", 1.0, ""),
        (eid + 3, 10_000_000, 3, "view", 1.0, ""),
        (eid + 4, 9_000_000, 4, "click", 1.0, ""),
        (eid + 5, 10_000_000, 4, "view", 1.0, ""),
    ]
    sf_dir = _write_events(tmp_path, rows)
    df = REGISTRY["funnel_events"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan, "funnel must not build per-user arrays"
    row = df.collect()[0]
    # users 1,2,3,4 all viewed; 1,2 clicked after first view; 1,2 purchased after
    assert (row.n_view, row.n_view_click, row.n_funnel) == (4, 2, 2)


def test_event_micros_dispatch_all_dtypes(spark):
    """The same instant through all three physical representations the
    driver testdata has used (bigint nanos, timestamp, timestamp_ntz)
    yields identical BIGINT micros."""
    us = 1_700_000_123_456_789  # not microsecond-aligned to seconds
    dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
    nanos = spark.createDataFrame([(us * 1000,)], "ts long")
    ntz = spark.createDataFrame([(dt,)], "ts timestamp_ntz")
    ltz = spark.createDataFrame([(dt,)], "ts timestamp")  # session tz is UTC
    for df in (nanos, ntz, ltz):
        got = df.select(event_micros(df, "ts").alias("us")).collect()[0].us
        assert got == us, df.schema


def test_event_micros_ntz_is_session_tz_independent(spark):
    dt = datetime.datetime(2024, 6, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame([(dt,)], "ts timestamp_ntz")
    base = df.select(event_micros(df, "ts").alias("us")).collect()[0].us
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = df.select(event_micros(df, "ts").alias("us")).collect()[0].us
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert shifted == base


def test_event_micros_rejects_unsupported_dtype(spark):
    df = spark.createDataFrame([("x",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        event_micros(df, "ts")


def test_event_micros_batch_roundtrip_all_dtypes(spark):
    """200 pseudo-random instants (1970..2100, microsecond precision)
    through all three physical representations must yield identical
    micros — the batch version of the single-instant dispatch test."""
    import hashlib

    us_values = [
        int.from_bytes(hashlib.md5(f"epoch:{i}".encode()).digest()[:7], "big")
        % 4_102_444_800_000_000
        for i in range(200)
    ]
    dts = [
        datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=u)
        for u in us_values
    ]
    nanos = spark.createDataFrame([(u * 1000,) for u in us_values], "ts long")
    ntz = spark.createDataFrame([(d,) for d in dts], "ts timestamp_ntz")
    ltz = spark.createDataFrame([(d,) for d in dts], "ts timestamp")
    results = []
    for df in (nanos, ntz, ltz):
        got = sorted(
            r.us for r in df.select(event_micros(df, "ts").alias("us")).collect()
        )
        results.append(got)
    assert results[0] == sorted(us_values)
    assert results[0] == results[1] == results[2]


def test_sql_builders_register_only_the_tables_they_name(spark):
    """A ``spark.sql`` builder reads (and registers as a view) only the
    tables its text names: each read is one schema-inference job, so a
    one-table query must not pay for all ten."""
    import uuid

    from github_etl_pipeline_spark.sources.tables import tables_named

    assert tables_named(REGISTRY["tpch_q6_forecast_revenue"].oracle) == ("lineitem",)
    assert tables_named(REGISTRY["tpch_q5_local_supplier"].oracle) == (
        "region", "nation", "customer", "supplier", "orders", "lineitem",
    )
    sc = spark.sparkContext
    group = f"q6-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        REGISTRY["tpch_q6_forecast_revenue"].builder(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
