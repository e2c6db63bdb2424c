"""The shared pool-file scan path (sources/pol.py): excluded directories,
URI-encoded paths, and the caches ``run_pipeline`` leaves behind — checked
through every entry point that reads pool files."""

import json
import os
import time

import pytest

from github_etl_pipeline_spark.__main__ import main
from github_etl_pipeline_spark.operators.stats import pool_extended_stats
from github_etl_pipeline_spark.pipeline import run_pipeline
from github_etl_pipeline_spark.sinks.upsert import read_store
from github_etl_pipeline_spark.sources.lookup import prepare_dim
from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines
from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

DIM_ROWS = [("G", "9493", "201", 25.0)]
DIM_SCHEMA = "Game string, Game_id string, Pool_id string, Bet double"


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)


def _store(spark, path):
    return {r.source_file: r.size for r in read_store(spark, path).collect()}


def test_excluded_dirs_are_skipped_by_every_reader(spark, tmp_path, dim):
    root = tmp_path / "corpus"
    for sub in ("", "node_modules", ".git", "keep"):
        (root / sub).mkdir(parents=True, exist_ok=True)
    (root / "Pool_0201_941.pol").write_text("100\n200\n")
    (root / "keep" / "Pool_0201_395.pol").write_text("50\n")
    (root / "node_modules" / "Pool_0201_111.pol").write_text("1\n")
    (root / ".git" / "Pool_0201_112.pol").write_text("2\n")
    want = {"Pool_0201_941.pol": 2, "keep/Pool_0201_395.pol": 1}

    out = tmp_path / "out"
    run_pipeline(spark, root, dim=dim, output_dir=out)
    data = json.loads((out / "all_pools_data.json").read_text())
    assert {k: v["size"] for k, v in data.items()} == want

    lines = read_pol_lines(spark, str(root))
    assert {r.source_file for r in lines.select("source_file").distinct().collect()} == set(want)

    # the CLI's default run (a full scan outside a git work-tree)
    cli_out = tmp_path / "out_cli"
    assert main(["--repo-root", str(root), "--output-dir", str(cli_out), "--cpus", "8"]) == 0
    data = json.loads((cli_out / "all_pools_data.json").read_text())
    assert {k: v["size"] for k, v in data.items()} == want

    dim_agg = prepare_dim(dim)
    n = run_incremental_mtime(spark, root, tmp_path / "ledger", tmp_path / "st_m", dim_agg)
    assert n == 2
    assert _store(spark, tmp_path / "st_m") == want


def test_special_characters_in_paths_come_out_decoded(spark, tmp_path, dim):
    """Spark lists files as percent-encoded URIs; output keys must be the
    decoded posix path relative to the scan root, whatever the root,
    folder and file names hold (a space, a literal '+', a literal '%')."""
    root = tmp_path / "sp root+x%y"
    (root / "sub dir").mkdir(parents=True)
    (root / "a+b%c").mkdir()
    (root / "sub dir" / "Pool_0201 x_395.pol").write_text("100\n200\n")
    (root / "a+b%c" / "Pool_0201_9+4%1.pol").write_text("100\n200\n300\n")
    (root / "Pool_0201_941.pol").write_text("100\n")
    want = {
        "sub dir/Pool_0201 x_395.pol": ("sub dir", "Pool_0201 x_395.pol", "0201 x", "395", 2),
        "a+b%c/Pool_0201_9+4%1.pol": ("a+b%c", "Pool_0201_9+4%1.pol", "0201", "9+4%1", 3),
        "Pool_0201_941.pol": ("root", "Pool_0201_941.pol", "0201", "941", 1),
    }

    pools, _ = run_pipeline(spark, root, dim=dim, output_dir=tmp_path / "out")
    got = {
        r.source_file: (r.folder_path, r.file_name, r.pool_id, r.pool_type, r.size)
        for r in pools.collect()
    }
    assert got == want
    data = json.loads((tmp_path / "out" / "all_pools_data.json").read_text())
    assert set(data) == set(want)
    assert data["sub dir/Pool_0201 x_395.pol"]["metadata"]["folder_path"] == "sub dir"

    ext = pool_extended_stats(parse_pol_lines(read_pol_lines(spark, str(root))))
    assert {
        r.source_file: (r.folder_path, r.file_name, r.pool_id, r.pool_type, r.total_records)
        for r in ext.collect()
    } == want

    dim_agg = prepare_dim(dim)
    ledger, store = tmp_path / "ledger", tmp_path / "store"
    assert run_incremental_mtime(spark, root, ledger, store, dim_agg) == 3
    assert _store(spark, store) == {k: v[-1] for k, v in want.items()}

    # an in-place edit of the file whose name needs encoding is re-read
    edited = root / "a+b%c" / "Pool_0201_9+4%1.pol"
    edited.write_text("100\n200\n300\n400\n")
    later = time.time() + 2
    os.utime(edited, (later, later))
    assert run_incremental_mtime(spark, root, ledger, store, dim_agg) == 1
    assert _store(spark, store)["a+b%c/Pool_0201_9+4%1.pol"] == 4


def test_run_pipeline_releases_the_caches_it_creates(spark, tmp_path, dim):
    root = tmp_path / "corpus"
    root.mkdir()
    (root / "Pool_0201_941.pol").write_text("100\n0\n250 TB2 10\n")
    (root / "Pool_0202_888.pol").write_text("garbage\n")

    def n_persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    before = n_persisted()
    for i in range(2):
        run_pipeline(spark, root, dim=dim, output_dir=tmp_path / f"out{i}")
        assert n_persisted() == before
        pools, _ = run_pipeline(spark, root, dim=dim)
        pools.collect()
        assert n_persisted() == before
