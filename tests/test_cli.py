"""CLI tests: the printed count and the output surface, for a full run and
for the default run over a git work-tree, which reads only the .pol files
the last commit changed and falls back to a full scan when there are
none."""

import csv
import json
import subprocess

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


def _git(repo, *args):
    env = {"PATH": "/usr/bin:/bin:/usr/local/bin", "HOME": str(repo), "GIT_AUTHOR_NAME": "t",
           "GIT_AUTHOR_EMAIL": "t@t", "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"}
    subprocess.run(["git", "-C", str(repo), *args], check=True, capture_output=True, env=env)


def _commit(repo, message):
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", message)


def _run(root, out, *flags):
    """One CLI run: ``files_processed`` of its summary, and the upserted
    JSON document as ``{source_file: size}``."""
    assert main(["--repo-root", str(root), "--output-dir", str(out), "--cpus", "8", *flags]) == 0
    summary = json.loads((out / "_pipeline_summary.json").read_text())
    doc = json.loads((out / "all_pools_data.json").read_text())
    return summary["files_processed"], {k: v["size"] for k, v in doc.items()}


def test_default_run_reads_the_last_commits_pol_files(spark, tmp_path, capsys):
    repo = tmp_path / "repo"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    (pools / "Pool_0201_941.pol").write_text("100\n200\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    _git(repo, "init", "-q")
    _commit(repo, "c1")
    out = tmp_path / "Meta_data"
    out.mkdir()
    # an existing document: the run upserts into it and keeps other keys
    (out / "all_pools_data.json").write_text(json.dumps({"old/Pool_0100_1.pol": {"size": 7}}))

    # a single-commit repo has no HEAD~1: the full-scan fallback
    assert _run(repo, out) == (
        2, {"old/Pool_0100_1.pol": 7, "Pool_0201_395.pol": 1, "Pool_0201_941.pol": 2}
    )

    # a one-file commit: that file only, upserted into the document
    (pools / "Pool_0201_941.pol").write_text("100\n200\n300\n")
    _commit(repo, "c2")
    capsys.readouterr()
    assert _run(repo, out) == (
        1, {"old/Pool_0100_1.pol": 7, "Pool_0201_395.pol": 1, "Pool_0201_941.pol": 3}
    )
    assert f"batch run complete: 1 pool(s) -> {out}" in capsys.readouterr().out
    # the summary and the CSV cover this run's file; the index, the document
    with (out / "_all_files_summary.csv").open() as f:
        assert [r["source_file"] for r in csv.DictReader(f)] == ["Pool_0201_941.pol"]
    assert json.loads((out / "_index.json").read_text())["total_files"] == 3

    # --all is a full scan whatever the last commit changed
    assert _run(repo, out, "--all")[0] == 2

    # a commit with no .pol change falls back to a full scan
    (repo / "README.md").write_text("r")
    _commit(repo, "c3")
    assert _run(repo, out)[0] == 2


def test_default_run_under_a_subdirectory_root(spark, tmp_path):
    """``git diff`` prints paths from the repository's top level; under a
    --repo-root below it the changed files are still found."""
    top = tmp_path / "top"
    pools = top / "app" / "samples" / "pools2"
    pools.mkdir(parents=True)
    (pools / "Pool_0201_941.pol").write_text("100\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    (top / "Pool_0201_777.pol").write_text("1\n")  # outside the root
    _git(top, "init", "-q")
    _commit(top, "c1")
    (pools / "Pool_0201_395.pol").write_text("50\n60\n")
    (top / "Pool_0201_777.pol").write_text("1\n2\n")
    _commit(top, "c2")

    assert _run(top / "app", tmp_path / "out") == (1, {"Pool_0201_395.pol": 2})
