"""Sink tests: parquet upsert semantics + idempotence (S8 property from
SURVEY §5), consolidated JSON format parity, reports."""

import json
import math

from pyspark.sql import functions as F

from github_etl_pipeline_spark.sinks.upsert import (
    read_store,
    upsert_parquet,
    write_consolidated_json,
)


def _pools_df(spark, rows):
    return spark.createDataFrame(rows, "source_file string, rtp double")


def test_upsert_insert_update_preserve(spark, tmp_path):
    table = tmp_path / "store"
    upsert_parquet(spark, _pools_df(spark, [("a", 1.0), ("b", 2.0)]), table)
    # update a, insert c, preserve b
    upsert_parquet(spark, _pools_df(spark, [("a", 9.0), ("c", 3.0)]), table)
    got = {r.source_file: r.rtp for r in read_store(spark, table).collect()}
    assert got == {"a": 9.0, "b": 2.0, "c": 3.0}


def test_upsert_idempotent(spark, tmp_path):
    table = tmp_path / "store"
    df = _pools_df(spark, [("a", 1.0), ("b", 2.0)])
    upsert_parquet(spark, df, table)
    once = sorted(map(str, read_store(spark, table).collect()))
    upsert_parquet(spark, df, table)
    twice = sorted(map(str, read_store(spark, table).collect()))
    assert once == twice


def test_consolidated_json_upsert_and_shape(spark, tmp_path):
    out = tmp_path / "all_pools_data.json"
    full = spark.createDataFrame(
        [
            (
                "Pool_0201_395.pol", "0201", "395", ["9493"], 25.0, 1000.0, 4749.78,
                56.52, 0, ["GAB", "PFB"], 100000, None, "p/Pool_0201_395.pol",
                "Pool_0201_395.pol", "p", 100.0,
            )
        ],
        "pool_name string, pool_id string, pool_type string, game_ids array<string>, "
        "min_bet double, max_win_factor double, rtp double, volatility double, "
        "is_flat int, tag array<string>, size long, max_multiplier string, "
        "source_file string, file_name string, folder_path string, hit_frequency double",
    ).withColumn("processed_at", F.current_timestamp())
    write_consolidated_json(full, out)
    data = json.loads(out.read_text())
    rec = data["p/Pool_0201_395.pol"]
    # reference record shape (etl/transform.py:237-256)
    assert rec["rtp"] == 4749.78 and rec["tag"] == ["GAB", "PFB"]
    assert rec["metadata"]["hit_frequency"] == 100.0
    assert set(rec) == {
        "pool_name", "pool_id", "pool_type", "game_ids", "min_bet", "max_win_factor",
        "rtp", "volatility", "is_flat", "tag", "size", "max_multiplier", "metadata",
    }
    # upsert: second write updates in place, no duplicate keys
    write_consolidated_json(full, out)
    assert len(json.loads(out.read_text())) == 1


def _surface_corpus(spark, tmp_path):
    """Two pools, one of which has no valid line, and a one-row lookup."""
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "Pool_0201_941.pol").write_text("100\n0 TB1\n250 TB2 10\n")
    (d / "Pool_0202_888.pol").write_text("garbage\n")
    dim = spark.createDataFrame(
        [("G", "9493", "201", 25.0)], "Game string, Game_id string, Pool_id string, Bet double"
    )
    return d, dim


def test_full_output_surface(spark, tmp_path):
    from github_etl_pipeline_spark.pipeline import run_pipeline

    d, dim = _surface_corpus(spark, tmp_path)
    out = tmp_path / "Meta_data"
    run_pipeline(spark, d, dim=dim, output_dir=out)

    data = json.loads((out / "all_pools_data.json").read_text())
    assert len(data) == 2
    rec = data["Pool_0201_941.pol"]
    assert rec["size"] == 3 and rec["game_ids"] == ["9493"]

    summary = json.loads((out / "_pipeline_summary.json").read_text())
    assert summary["files_processed"] == 2
    assert summary["files_succeeded"] == 1
    assert summary["files_failed"] == 1
    assert summary["aggregated_summary"]["total_records_across_all_files"] == 3

    index = json.loads((out / "_index.json").read_text())
    assert index["total_files"] == 2
    csv_text = (out / "_all_files_summary.csv").read_text()
    assert csv_text.splitlines()[0].startswith("source_file,pool_name")
    assert len(csv_text.strip().splitlines()) == 3


def _count_jobs(spark, fn):
    """Spark jobs ``fn()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _count_py4j_calls(spark, monkeypatch, fn):
    """py4j commands the driver sends to the JVM while ``fn()`` runs."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    gc.collect()
    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        fn()
    return len(calls)


def test_run_pipeline_job_budget(spark, tmp_path, monkeypatch):
    """The output surface is one action over the pools: a run whose
    records fit the driver bounds takes at most 8 Spark jobs. Preparing
    a multi-partition dimension is one job, and building the KPI plan
    over it runs none and stays within a py4j call budget (a SQL-text
    plan: ~190 calls, against ~1,980 built from Column calls)."""
    from github_etl_pipeline_spark.operators.kpis import pool_kpis
    from github_etl_pipeline_spark.pipeline import run_pipeline
    from github_etl_pipeline_spark.sources.lookup import prepare_dim
    from github_etl_pipeline_spark.sources.pol import count_pol_files, scan_pol_files

    d, dim = _surface_corpus(spark, tmp_path)
    for i in range(2):  # cold, then warm
        jobs = _count_jobs(spark, lambda: run_pipeline(spark, d, dim=dim, output_dir=tmp_path / f"o{i}"))
        assert jobs <= 8, f"run {i}: {jobs} jobs"

    rows = [("G", str(i), f"{i:04d}", float(i)) for i in range(23)]
    dim4 = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), dim.schema)
    prepared = []
    assert _count_jobs(spark, lambda: prepared.append(prepare_dim(dim4))) == 1
    counted = count_pol_files(scan_pol_files(spark, str(d)), str(d))
    build = lambda: pool_kpis(counted, dim_agg=prepared[0])  # noqa: E731
    assert _count_jobs(spark, build) == 0
    calls = _count_py4j_calls(spark, monkeypatch, build)
    assert calls <= 250, f"{calls} py4j calls to build pool_kpis"  # measured 190


def test_count_pol_files_py4j_budget(spark, tmp_path, monkeypatch):
    """The reader's plan is SQL text: building it takes ~80 py4j calls
    (measured 77, warm), against 243 built from Column calls. The lower
    of two builds is bounded, so a Python garbage collection that
    detaches JVM objects during one build does not count."""
    from github_etl_pipeline_spark.sources.pol import count_pol_files, scan_pol_files

    d, _ = _surface_corpus(spark, tmp_path)
    raw = scan_pol_files(spark, str(d))
    count_pol_files(raw, str(d))  # warm
    build = lambda: count_pol_files(raw, str(d))  # noqa: E731
    calls = min(_count_py4j_calls(spark, monkeypatch, build) for _ in range(2))
    assert calls <= 100, f"{calls} py4j calls to build count_pol_files"


def _strip_times(doc):
    """``doc`` without the run's timestamps (they differ between runs)."""
    if isinstance(doc, dict):
        return {
            k: _strip_times(v)
            for k, v in doc.items()
            if k not in ("generated_at", "pipeline_run_at", "processed_at")
        }
    if isinstance(doc, list):
        return [_strip_times(v) for v in doc]
    return doc


def _csv_rows(paths):
    """Rows of CSV files with headers, numbers compared as numbers."""
    import csv

    def value(v):
        try:
            return float(v)
        except ValueError:
            return v

    return sorted(
        (
            {k: value(v) for k, v in row.items()}
            for p in paths
            for row in csv.DictReader(p.open(encoding="utf-8"))
        ),
        key=lambda row: row["source_file"],
    )


def test_spill_path_writes_the_same_outputs(spark, tmp_path, monkeypatch):
    """Above the driver bounds every output goes through its shard path;
    the records, index, CSV rows and summary equal an in-bound run's."""
    from github_etl_pipeline_spark.pipeline import run_pipeline
    from github_etl_pipeline_spark.sinks import reports, upsert
    from github_etl_pipeline_spark.sinks.upsert import read_consolidated

    d, dim = _surface_corpus(spark, tmp_path)
    inb, spill = tmp_path / "in_bound", tmp_path / "spill"
    run_pipeline(spark, d, dim=dim, output_dir=inb)
    with monkeypatch.context() as m:
        m.setattr(upsert, "CONSOLIDATED_DRIVER_MAX_ROWS", 1)
        m.setattr(reports, "CSV_DRIVER_MAX_ROWS", 1)
        run_pipeline(spark, d, dim=dim, output_dir=spill)

    assert not (spill / "all_pools_data.json").exists()
    assert not (spill / "_all_files_summary.csv").exists()
    doc = read_consolidated(inb / "all_pools_data.json")
    assert len(doc) == 2
    assert _strip_times(read_consolidated(spill / "all_pools_data.json.shards")) == _strip_times(doc)
    for name in ("_index.json", "_pipeline_summary.json"):
        want = json.loads((inb / name).read_text())
        assert _strip_times(json.loads((spill / name).read_text())) == _strip_times(want), name
    shards = sorted((spill / "_all_files_summary.csv.shards").glob("part-*.csv"))
    assert shards
    assert _csv_rows(shards) == _csv_rows([inb / "_all_files_summary.csv"])


def _norm(v):
    """A value with NaN made comparable and Row field names and map and
    binary types kept."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return ("Row", tuple(v.__fields__), tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (bytes, bytearray)):
        return (type(v), v)
    return v


def test_collect_at_most_rows_match_collect(spark):
    """``collect_at_most`` converts an Arrow fetch, not ``collect()``'s
    pickled rows: pin that the two agree on the types the sinks and
    ``prepare_dim`` read (Row, nested struct, array, map, NaN, NULL,
    decimal, timestamp, binary) and on row order across partitions."""
    from pyspark.sql import Row

    from github_etl_pipeline_spark.sinks.upsert import collect_at_most

    df = spark.range(0, 12, numPartitions=3).selectExpr(
        "id",
        "concat('s', id) AS s",
        "CASE WHEN id % 4 = 0 THEN double('NaN') WHEN id % 4 = 1 THEN NULL"
        " ELSE cast(id AS double) / 3 END AS d",
        "id % 2 = 0 AS b",
        "cast(id / 7 AS decimal(18,4)) AS dec",
        "timestamp_seconds(id * 86400) AS ts",
        "array(concat('g', id), CASE WHEN id % 3 = 0 THEN NULL ELSE 'x' END) AS arr",
        "map('k', id, 'n', id * 2) AS m",
        "named_struct('a', id, 'inner', named_struct('s', cast(id AS string),"
        " 'arr', array(double('NaN'), cast(id AS double)))) AS rec",
        # a NULL struct over a non-nullable child field
        "CASE WHEN id % 5 = 0 THEN NULL ELSE named_struct('x', id) END AS maybe",
        "cast(concat('b', id) AS binary) AS bin",
    )
    want = df.collect()
    got = collect_at_most(df, 12)
    assert [r.id for r in got] == list(range(12))
    assert all(type(g) is Row for g in got)
    assert [_norm(g) for g in got] == [_norm(w) for w in want]
    assert type(got[1].rec.inner) is Row and type(got[1].m) is dict
    assert collect_at_most(df, 11) is None
    # the shape run_pipeline fetches: the CSV columns and the nested record
    from github_etl_pipeline_spark.sinks.reports import CSV_FIELDS
    from github_etl_pipeline_spark.sinks.upsert import pool_record_col

    pools = _full_pools_df(spark, 5).repartition(3, "source_file")
    sel = pools.select(*CSV_FIELDS, pool_record_col().alias("record"))
    want = sel.collect()
    assert [_norm(g) for g in collect_at_most(sel, 5)] == [_norm(w) for w in want]


def test_upsert_schema_evolution(spark, tmp_path):
    """A new column appearing in updates must not break the upsert:
    existing rows carry NULL for it (parquet schema evolution), updated/
    inserted rows carry the value — the Delta MERGE schema-evolution
    semantics the emulation mirrors."""
    path = tmp_path / "tbl"
    v1 = spark.createDataFrame(
        [("a.pol", 1.0), ("b.pol", 2.0)], "source_file string, rtp double"
    )
    upsert_parquet(spark, v1, path)
    v2 = spark.createDataFrame(
        [("b.pol", 2.5, 60.0), ("c.pol", 3.0, 70.0)],
        "source_file string, rtp double, hit_frequency double",
    )
    upsert_parquet(spark, v2, path)
    got = {
        r["source_file"]: (r["rtp"], r["hit_frequency"])
        for r in read_store(spark, path).collect()
    }
    assert got == {"a.pol": (1.0, None), "b.pol": (2.5, 60.0), "c.pol": (3.0, 70.0)}


def test_upsert_schema_narrowing(spark, tmp_path):
    """Updates MISSING a column the table has must also merge (their
    rows get NULL for it) — allowMissingColumns covers both directions."""
    path = tmp_path / "tbl2"
    v1 = spark.createDataFrame(
        [("a.pol", 1.0, 50.0)], "source_file string, rtp double, hit_frequency double"
    )
    upsert_parquet(spark, v1, path)
    v2 = spark.createDataFrame([("b.pol", 2.0)], "source_file string, rtp double")
    upsert_parquet(spark, v2, path)
    got = {
        r["source_file"]: (r["rtp"], r["hit_frequency"])
        for r in read_store(spark, path).collect()
    }
    assert got == {"a.pol": (1.0, 50.0), "b.pol": (2.0, None)}


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property of the store layout: a delta merge must leave
    every bucket that contains no updated key physically untouched (same
    inode, same mtime) — maintenance cost is O(touched buckets), never
    O(history)."""
    table = tmp_path / "bstore"
    n_buckets = 16
    keys = [(f"k{i}.pol", float(i)) for i in range(50)]
    upsert_parquet(spark, _pools_df(spark, keys), table, n_buckets=n_buckets)
    assert any(p.name.startswith("_bucket=") for p in table.iterdir())

    touched_bucket = (
        spark.createDataFrame([("k3.pol",)], "source_file string")
        .select(F.pmod(F.xxhash64("source_file"), F.lit(n_buckets)).alias("b"))
        .first()
        .b
    )
    before = {
        str(p): (p.stat().st_ino, p.stat().st_mtime_ns)
        for p in table.rglob("*.parquet")
    }
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    upsert_parquet(spark, _pools_df(spark, [("k3.pol", 99.0)]), table, n_buckets=n_buckets)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode
    after = {
        str(p): (p.stat().st_ino, p.stat().st_mtime_ns)
        for p in table.rglob("*.parquet")
    }
    untouched = {
        p: v for p, v in before.items() if f"_bucket={touched_bucket}/" not in p
    }
    assert untouched, "test needs at least one untouched bucket"
    for p, v in untouched.items():
        assert after[p] == v, f"untouched bucket file was rewritten: {p}"

    got = {r.source_file: r.rtp for r in read_store(spark, table).collect()}
    want = {f"k{i}.pol": float(i) for i in range(50)}
    want["k3.pol"] = 99.0
    assert got == want


def test_legacy_flat_store_migrates_to_bucketed(spark, tmp_path):
    """A store written by the pre-bucketed sink (flat parquet, no _bucket
    dirs) must merge correctly and come out bucketed (one-time migration)."""
    table = tmp_path / "legacy"
    _pools_df(spark, [("a", 1.0), ("b", 2.0)]).write.parquet(str(table))
    upsert_parquet(spark, _pools_df(spark, [("a", 9.0), ("c", 3.0)]), table)
    assert any(p.name.startswith("_bucket=") for p in table.iterdir())
    got = {r.source_file: r.rtp for r in read_store(spark, table).collect()}
    assert got == {"a": 9.0, "b": 2.0, "c": 3.0}


def test_legacy_flat_store_migration_recovers_crashed_swap(spark, tmp_path):
    """Crash between the two renames of the migration rewrite: the flat
    store sits only at its ``._old`` name and a half-written staging dir
    is lying around. The next merge restores the store, then migrates
    and merges all of it."""
    table = tmp_path / "legacy"
    _pools_df(spark, [("a", 1.0), ("b", 2.0)]).write.parquet(str(table))
    old = table.with_name(table.name + "._old")
    staging = table.with_name(table.name + "._staging")
    table.rename(old)
    staging.mkdir()
    (staging / "junk.parquet").write_text("not a real file")

    upsert_parquet(spark, _pools_df(spark, [("a", 9.0), ("c", 3.0)]), table)
    assert any(p.name.startswith("_bucket=") for p in table.iterdir())
    got = {r.source_file: r.rtp for r in read_store(spark, table).collect()}
    assert got == {"a": 9.0, "b": 2.0, "c": 3.0}
    assert not old.exists() and not staging.exists()


def _full_pools_df(spark, n):
    rows = [
        (
            f"Pool_02{i:02d}_395.pol", f"02{i:02d}", "395", ["9493"], 25.0, 1000.0,
            4749.78, 56.52, 0, ["GAB"], 100000, None, f"p/Pool_02{i:02d}_395.pol",
            f"Pool_02{i:02d}_395.pol", "p", 100.0,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "pool_name string, pool_id string, pool_type string, game_ids array<string>, "
        "min_bet double, max_win_factor double, rtp double, volatility double, "
        "is_flat int, tag array<string>, size long, max_multiplier string, "
        "source_file string, file_name string, folder_path string, hit_frequency double",
        # pinned timestamp: current_timestamp() re-evaluates per query
        # execution, which would make the two-path parity test flaky
    ).withColumn("processed_at", F.to_timestamp(F.lit("2026-01-02 03:04:05")))


def test_consolidated_json_spills_to_shards_over_threshold(spark, tmp_path):
    """Above max_driver_rows the consolidated sink must refuse the driver
    collect and write executor-side JSONL shards with the same record
    shape."""
    import json as _json

    out = tmp_path / "all_pools_data.json"
    got = write_consolidated_json(_full_pools_df(spark, 5), out, max_driver_rows=3)
    assert got != out and got.name.endswith(".shards")
    assert not out.exists(), "single-document path must not have been taken"
    lines = []
    for part in sorted(got.glob("part-*")):
        lines += [l for l in part.read_text().splitlines() if l]
    recs = {d["key"]: d["record"] for d in map(_json.loads, lines)}
    assert len(recs) == 5
    rec = recs["p/Pool_0203_395.pol"]
    assert rec["rtp"] == 4749.78 and rec["metadata"]["hit_frequency"] == 100.0
    assert rec["metadata"]["processed_at"].endswith("+00:00")
    # the index describes the store in either form
    from github_etl_pipeline_spark.sinks.reports import generate_index_file

    index = _json.loads(generate_index_file(got, tmp_path / "_index.json").read_text())
    assert index["total_files"] == 5
    assert [f["source_file"] for f in index["files"]] == sorted(recs)
    # under the threshold: unchanged single-document behavior
    single = write_consolidated_json(_full_pools_df(spark, 2), out, max_driver_rows=3)
    assert single == out and len(_json.loads(out.read_text())) == 2


def test_csv_spills_to_shards_over_threshold(spark, tmp_path):
    """save_as_csv must switch to executor-written sorted CSV shards when
    the row count exceeds the driver bound."""
    from github_etl_pipeline_spark.sinks.reports import save_as_csv

    df = _full_pools_df(spark, 6).withColumn("max_multiplier", F.lit("x"))
    out = tmp_path / "_all_files_summary.csv"
    got = save_as_csv(df, out, max_driver_rows=4)
    assert got.name.endswith(".shards") and not out.exists()
    parts = sorted(got.glob("part-*.csv"))
    assert parts
    rows = []
    for p in parts:
        body = p.read_text().strip().splitlines()
        assert body[0].startswith("source_file,pool_name")
        rows += body[1:]
    assert len(rows) == 6
    assert rows == sorted(rows), "shards must be globally sorted by source_file"
    # under the bound: single file, unchanged
    single = save_as_csv(df.limit(2), out, max_driver_rows=4)
    assert single == out and len(out.read_text().strip().splitlines()) == 3


def test_sharded_json_matches_consolidated_dict_semantics(spark, tmp_path):
    """Golden parity for the 100-TB overflow path (VERDICT r7 #8): the
    SAME pools written through the sharded-JSONL spill and through the
    single-document consolidated path must yield IDENTICAL per-key
    record dicts — same keys (source_file as it is), same fields, same
    values, explicit nulls included. A consumer switching stores at the
    threshold must see one record shape. The backslash row is a folder
    named ``a\\b`` on posix: both forms keep the key unchanged."""
    import json as _json

    backslash = _full_pools_df(spark, 1).withColumn(
        "source_file", F.lit("a\\b/Pool_0200_395.pol")
    )
    pools = _full_pools_df(spark, 7).unionByName(backslash)

    # consolidated single-document path (threshold far above row count)
    single_out = tmp_path / "all_pools_data.json"
    got_single = write_consolidated_json(pools, single_out, max_driver_rows=1000)
    assert got_single == single_out
    consolidated = _json.loads(single_out.read_text())

    # sharded overflow path (threshold below row count)
    shard_out = tmp_path / "spill" / "all_pools_data.json"
    shard_out.parent.mkdir()
    got_shards = write_consolidated_json(pools, shard_out, max_driver_rows=3)
    assert got_shards.name.endswith(".shards")
    lines = []
    for part in sorted(got_shards.glob("part-*")):
        lines += [l for l in part.read_text().splitlines() if l]
    sharded = {d["key"]: d["record"] for d in map(_json.loads, lines)}

    assert sharded == consolidated
    assert "a\\b/Pool_0200_395.pol" in consolidated
