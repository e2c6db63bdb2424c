"""J1 join-key normalization (reference etl/transform.py:199-215)."""

import pytest
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.keys import normalize_pool_id
from github_etl_pipeline_spark.sources.lookup import (
    assert_dim_unambiguous,
    prepare_dim,
)


def test_normalize_pool_id(spark):
    df = spark.createDataFrame(
        [("0201",), ("201",), ("6371",), ("0",), ("000",), ("12345",)], "x string"
    )
    got = {r.x: r.n for r in df.select("x", normalize_pool_id("x").alias("n")).collect()}
    assert got == {
        "0201": "0201",
        "201": "0201",
        "6371": "6371",
        "0": "0000",
        "000": "0000",
        "12345": "12345",
    }


def _dim(spark, rows):
    return spark.createDataFrame(rows, "Game string, Game_id string, Pool_id string, Bet double")


def test_prepare_dim_first_bet_and_all_game_ids(spark):
    dim = _dim(
        spark,
        [
            ("A", "11", "201", 25.0),   # unpadded spelling joins 0201 facts
            ("B", "22", "201", 50.0),   # second row: Bet ignored, Game_id kept
            ("C", "33", "6371", 10.0),
        ],
    )
    agg = prepare_dim(dim)
    rows = {r.norm_pool_id: r for r in agg.collect()}
    assert rows["0201"].min_bet == 25.0  # FIRST row's Bet, source order
    assert rows["0201"].game_ids == ["11", "22"]
    assert rows["6371"].game_ids == ["33"]
    assert_dim_unambiguous(agg)


def test_dim_ambiguity_detected(spark):
    dim = _dim(spark, [("A", "1", "201", 25.0), ("B", "2", "0201", 30.0)])
    with pytest.raises(ValueError):
        assert_dim_unambiguous(prepare_dim(dim))


def test_reference_match_gate_matches_reference_stages(spark):
    """The normalized join + reference_match_sql gate must reproduce the
    reference's asymmetric 3-stage fallback (etl/transform.py:202-211)
    exactly, including its MISSES."""
    from github_etl_pipeline_spark.functions.keys import reference_match_sql

    def ref_stages(fact, dim_raw):
        if fact == dim_raw:
            return True                       # stage 1: exact
        if dim_raw == (fact.lstrip("0") or "0"):
            return True                       # stage 2: stripped fact vs raw dim
        return dim_raw.zfill(4) == fact       # stage 3: zfilled dim vs raw fact

    cases = [
        (f, d)
        for f in ["0201", "201", "00201", "6371", "0", "000", "00000", "1234", "01234"]
        for d in ["0201", "201", "6371", "0", "00", "1234"]
    ]
    df = spark.createDataFrame(cases, "f string, d string")
    got = {
        (r.f, r.d): bool(r.m)
        for r in df.select("f", "d", F.expr(reference_match_sql("f", "d")).alias("m")).collect()
    }
    for f, d in cases:
        assert got[(f, d)] == ref_stages(f, d), (f, d, got[(f, d)])


def test_kpis_gate_excludes_reference_misses(spark):
    """fact '00201' normalizes onto dim '0201' but the reference's stages
    all miss it -> lookup-dependent metrics must be NULL."""
    from github_etl_pipeline_spark.operators.kpis import pool_kpis

    dim_agg = prepare_dim(_dim(spark, [("A", "11", "0201", 25.0)]))
    lines = spark.createDataFrame(
        [
            ("a/Pool_00201_941.pol", "Pool_00201_941.pol", "a", "a", "00201", "941", 100),
            ("a/Pool_0201_941.pol", "Pool_0201_941.pol", "a", "a", "0201", "941", 100),
        ],
        "source_file string, file_name string, folder_path string, "
        "parent_folder string, pool_id string, pool_type string, game_win long",
    )
    out = {r.pool_id: r for r in pool_kpis(lines, dim_agg=dim_agg).collect()}
    assert out["0201"].min_bet == 25.0 and out["0201"].rtp is not None
    assert out["00201"].min_bet is None and out["00201"].rtp is None
    assert out["00201"].game_ids == []


def test_prepare_dim_rejects_oversized_input(spark):
    """prepare_dim single-partitions its input to pin source order — meant
    for small dimensions only; a large input must fail loudly, not run
    quadratically on one task."""
    import pytest
    from github_etl_pipeline_spark.sources.lookup import prepare_dim

    big = spark.range(0, 50).selectExpr(
        "'G' AS Game", "CAST(id AS STRING) AS Game_id",
        "CAST(id AS STRING) AS Pool_id", "CAST(id AS DOUBLE) AS Bet",
    )
    # the cheap limit(max_rows+1) probe fires at CALL time (the old
    # ValueError contract), before the single-partition window sort
    # ever executes on the oversized input
    with pytest.raises(ValueError, match="small lookup dimensions"):
        prepare_dim(big, max_rows=10)
    # explicit override still works
    assert prepare_dim(big, max_rows=1000).count() == 50


def test_ambiguous_dim_surfaces_spellings_and_guard_raises(spark):
    """The J1 edge exercised in anger (VERDICT r12 #6): a multi-thousand-
    row dimension where four pools carry both the unpadded and the
    zero-padded spelling must come out of prepare_dim with
    _n_spellings = 2 on exactly those keys, and assert_dim_unambiguous
    must raise rather than silently pick a spelling."""
    import pytest
    from github_etl_pipeline_spark.sources.lookup import (
        assert_dim_unambiguous,
        prepare_dim,
    )

    from pyspark.sql import functions as F

    gids = spark.range(0, 4000).select(F.col("id").alias("gid"))
    pool = F.col("gid") % 40

    def rows(spelling, off):
        return gids.select(
            F.lit("G").alias("Game"),
            (F.col("gid") + off).cast("string").alias("Game_id"),
            spelling.alias("Pool_id"),
            (5.0 + (pool % 4).cast("double")).alias("Bet"),
        )

    seeds = rows(F.lpad(pool.cast("string"), 4, "0"), 1_000_000).where(
        F.col("Pool_id").isin(["0003", "0013", "0023", "0033"])
    )
    dim = rows(pool.cast("string"), 0).unionAll(seeds)
    agg = prepare_dim(dim).persist()
    ambiguous = {
        r["norm_pool_id"]: r["_n_spellings"]
        for r in agg.where(F.col("_n_spellings") > 1).collect()
    }
    assert ambiguous == {"0003": 2, "0013": 2, "0023": 2, "0033": 2}
    with pytest.raises(ValueError, match="multiple distinct Pool_id"):
        assert_dim_unambiguous(agg)
    agg.unpersist()


def _prepare_dim_spark(dim):
    """The Spark-side ``prepare_dim`` the driver-side one replaced: source
    order pinned by a row index over a global window. Kept as the oracle
    for the driver-side grouping."""
    from pyspark.sql import Window

    w = Window.orderBy(F.monotonically_increasing_id())
    indexed = dim.withColumn("_idx", F.row_number().over(w)).withColumn(
        "norm_pool_id", normalize_pool_id("Pool_id")
    )
    agg = indexed.groupBy("norm_pool_id").agg(
        F.min_by("Bet", "_idx").alias("min_bet"),
        F.array_sort(F.collect_list(F.struct("_idx", "Game_id"))).alias("_pairs"),
        F.count_distinct("Pool_id").alias("_n_spellings"),
        F.min_by("Pool_id", "_idx").alias("dim_pool_id"),
    )
    return agg.select(
        "norm_pool_id",
        "dim_pool_id",
        "min_bet",
        F.transform("_pairs", lambda p: p["Game_id"]).alias("game_ids"),
        "_n_spellings",
    )


def test_prepare_dim_matches_spark_definition_on_hostile_dims(spark):
    """Driver-side grouping == the Spark definition on NULL Pool_id / Bet /
    Game_id, padded and unpadded spellings of one key, repeated Game_ids,
    a NaN Bet, and source order spread over several partitions."""
    nan = float("nan")
    rows = [
        ("A", "11", "201", None),     # first row of key 0201: NULL Bet wins
        ("B", "22", "0201", 25.0),    # second spelling of the same key
        ("C", None, "201", 30.0),     # NULL Game_id is kept in game_ids
        ("D", "11", "00201", 35.0),   # repeated Game_id, third spelling
        ("E", "44", None, 5.0),       # NULL Pool_id: key '0000', no spelling
        ("F", "55", "000", 6.0),      # same key, one spelling
        ("G", "66", "6371", nan),     # NaN Bet stays NaN
        ("H", "66", "6371", 10.0),
        ("I", "77", "12345", 1.0),    # wider than the pad width
        ("J", "77", "12345", None),
        ("K", "88", "0", 2.0),
    ] * 3
    dim = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 5),
        "Game string, Game_id string, Pool_id string, Bet double",
    )
    assert dim.rdd.getNumPartitions() >= 4

    def keyed(df):
        return {r.norm_pool_id: repr(tuple(r)) for r in df.collect()}

    got, want = prepare_dim(dim), _prepare_dim_spark(dim)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert keyed(got) == keyed(want)
    assert sorted(keyed(got)) == ["0000", "0201", "12345", "6371"]
