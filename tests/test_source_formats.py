"""Generic source-format coverage: the engine's scan layer is Spark's
DataFrame readers, so JSON and CSV corpora drop in beside parquet and
the .pol binaryFile source with no engine changes. These tests lock exact
row-level roundtrip fidelity (write from the driver parquet, read back
with an explicit schema — never inferred, so zero-padded ids and long
sums survive, SURVEY §7 'hard parts' (d))."""

from pyspark.sql import functions as F

from github_etl_pipeline_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


def _fingerprint(df):
    """Order-insensitive exact content fingerprint: per-row md5 xor-free
    sum (long) + count — collision-resistant enough for a test, and
    avoids driver-side sorting of whole tables."""
    # 48-bit per-row hash: sums of up to ~2^15 rows stay inside a long
    row_hash = F.conv(
        F.substring(F.md5(F.to_json(F.struct(*sorted(df.columns)))), 1, 12), 16, 10
    ).cast("long")
    out = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")
    ).collect()[0]
    return out["n"], out["h"]


def test_json_source_roundtrip(spark, tmp_path):
    ev = read_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    path = str(tmp_path / "events_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(ev.schema).json(path)
    assert _fingerprint(back) == _fingerprint(ev)


def test_csv_source_roundtrip(spark, tmp_path):
    # csv has no nested/array types; stick to scalar columns
    ords = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    path = str(tmp_path / "orders_csv")
    ords.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(ords.schema).option("header", True).csv(path)
    assert _fingerprint(back) == _fingerprint(ords)


def test_csv_malformed_rows_are_permissive(spark, tmp_path):
    """PERMISSIVE mode keeps malformed rows as nulls instead of failing
    the job — same lenient-parse philosophy as the .pol tokenizer (P1)."""
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n4,5\n")
    df = spark.read.schema("a long, b long").option("header", True).csv(str(p))
    rows = {(r.a, r.b) for r in df.collect()}
    assert (1, 2) in rows and (4, 5) in rows
    assert any(r.a is None for r in df.collect())


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC is the other columnar format Spark supports natively; the
    engine's queries are format-agnostic behind spark.read — verify an
    ORC copy of a table produces identical aggregates."""
    from github_etl_pipeline_spark.sources.tables import read_table
    from pyspark.sql import functions as F

    orders = read_table(spark, SF, "orders")
    orders.write.mode("overwrite").orc(str(tmp_path / "orders_orc"))
    back = spark.read.orc(str(tmp_path / "orders_orc"))
    assert back.schema == orders.schema
    a = orders.agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()
    b = back.agg(
        F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()
    assert a == b
