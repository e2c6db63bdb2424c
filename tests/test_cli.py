"""CLI tests: the batch run's printed count and its output surface."""

import json

from github_etl_pipeline_spark.__main__ import main


def test_batch_cli_prints_count_and_writes_outputs(spark, tmp_path, capsys):
    root = tmp_path / "repo"
    root.mkdir()
    (root / "Pool_0201_941.pol").write_text("100\n0 TB1\n250 TB2 10\n")
    (root / "Pool_0202_888.pol").write_text("garbage\n")
    out = tmp_path / "Meta_data"

    # --cpus 8 matches the test session, so reusing it changes no conf
    assert main(["--repo-root", str(root), "--output-dir", str(out), "--cpus", "8"]) == 0

    assert f"batch run complete: 2 pool(s) -> {out}" in capsys.readouterr().out
    assert sorted(p.name for p in out.iterdir()) == [
        "_all_files_summary.csv",
        "_index.json",
        "_pipeline_summary.json",
        "all_pools_data.json",
    ]
    assert json.loads((out / "_index.json").read_text())["total_files"] == 2
