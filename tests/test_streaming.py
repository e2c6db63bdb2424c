"""Incremental processing (reference S2/S3/EP2): the (path, mtime) ledger
runner, and the CLI's default run, which reads only the .pol files the
last commit changed (``git diff --name-only HEAD~1 HEAD``) and falls back
to a full scan when there are none."""

import json

import pytest

from github_etl_pipeline_spark.__main__ import main
from github_etl_pipeline_spark.sinks.upsert import read_store
from github_etl_pipeline_spark.sources.lookup import prepare_dim
from github_etl_pipeline_spark.streaming.incremental import changed_pol_paths


@pytest.fixture()
def dim_agg(spark):
    dim = spark.createDataFrame(
        [("G", "9493", "201", 25.0)], "Game string, Game_id string, Pool_id string, Bet double"
    )
    return prepare_dim(dim)


def test_incremental_mtime_reprocesses_in_place_edit(spark, tmp_path, dim_agg):
    """The (path, mtime)-keyed ledger (run_incremental_mtime) must match
    the reference's git-diff change model: an IN-PLACE edit of an
    already-processed file is detected and its KPI row updated."""
    import os
    import time

    from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

    corpus = tmp_path / "corpus_m"
    corpus.mkdir()
    ledger = tmp_path / "ledger_m"
    store = tmp_path / "store_m"

    f = corpus / "Pool_0201_941.pol"
    f.write_text("100\n200\n")
    n1 = run_incremental_mtime(spark, corpus, ledger, store, dim_agg)
    assert n1 == 1
    got1 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got1 == {"Pool_0201_941.pol": 2}

    # no changes -> nothing processed
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 0

    # IN-PLACE edit (same path, new content, strictly newer mtime)
    f.write_text("100\n200\n300\n")
    later = time.time() + 2
    os.utime(f, (later, later))
    n2 = run_incremental_mtime(spark, corpus, ledger, store, dim_agg)
    assert n2 == 1, "in-place edit must be detected"
    got2 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got2 == {"Pool_0201_941.pol": 3}, "KPI row must reflect the edit"

    # a NEW file alongside: only it is processed, edited row preserved
    (corpus / "Pool_0201_395.pol").write_text("50\n")
    n3 = run_incremental_mtime(spark, corpus, ledger, store, dim_agg)
    assert n3 == 1
    got3 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got3 == {"Pool_0201_941.pol": 3, "Pool_0201_395.pol": 1}


def test_incremental_mtime_first_run_is_directory_scan(spark, tmp_path, dim_agg):
    """The FIRST mtime-CDC run (no ledger) must plan ONE directory-rooted
    scan, not a driver-collected per-path file list (VERDICT r4 #4): at
    fleet scale the full-corpus path list cannot round-trip the driver.
    The churn run keeps the bounded path-list read."""
    from github_etl_pipeline_spark.sources.pol import scan_pol_files
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

    corpus = tmp_path / "corpus_d"
    (corpus / "sub").mkdir(parents=True)
    (corpus / "Pool_0201_941.pol").write_text("100\n200\n")
    (corpus / "sub" / "Pool_0201_395.pol").write_text("50\n")

    # the full-scan read (the batch scan) is rooted at the scan dir: its
    # FileScan location lists exactly one root path, not per-file paths
    raw = scan_pol_files(spark, str(corpus))
    plan = raw._jdf.queryExecution().executedPlan().toString()
    loc = plan.split("Location:")[1].split("PartitionFilters")[0]
    # ONE root path in the file index (the directory), not one per file
    assert "(1 paths)" in loc, f"expected a single-rooted file index: {loc}"
    # the one root is the scan directory (plan truncates long paths, so
    # match on the untruncated prefix)
    assert f"file:{str(corpus)}"[:40] in loc

    # and the first run over that scan produces the full-store result
    ledger = tmp_path / "ledger_d"
    store = tmp_path / "store_d"
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 2
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {"Pool_0201_941.pol": 2, "sub/Pool_0201_395.pol": 1}

    # steady state unchanged: nothing to do, then churn processes one
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 0
    (corpus / "Pool_0201_999.pol").write_text("1\n2\n3\n")
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 1


def _git(repo, *args):
    import subprocess

    subprocess.run(
        ["git", "-C", str(repo), *args],
        check=True,
        capture_output=True,
        env={
            "PATH": "/usr/bin:/bin:/usr/local/bin",
            "GIT_AUTHOR_NAME": "t",
            "GIT_AUTHOR_EMAIL": "t@t",
            "GIT_COMMITTER_NAME": "t",
            "GIT_COMMITTER_EMAIL": "t@t",
            "HOME": str(repo),
        },
    )


def _cli_run(spark, repo, out):
    """One default CLI run over ``repo`` into ``out``: the number of files
    it processed, or -1 when the last commit changed no .pol file it reads
    (the full-scan fallback), and the upserted JSON document as
    ``{source_file: size}``."""
    assert main(["--repo-root", str(repo), "--output-dir", str(out), "--cpus", "8"]) == 0
    n = json.loads((out / "_pipeline_summary.json").read_text())["files_processed"]
    if changed_pol_paths(spark, repo) is None:
        n = -1
    doc = json.loads((out / "all_pools_data.json").read_text())
    return n, {k: v["size"] for k, v in doc.items()}


def test_incremental_git_processes_last_commit_churn(spark, tmp_path):
    """The CLI's default run is the reference's LITERAL change log
    (etl/extract.py:55-80,160-211): one `git diff --name-only HEAD~1
    HEAD` call decides the file set — edited files re-processed,
    deleted files skipped, files outside the scan subdir ignored,
    full-scan fallback when the diff has no .pol files."""
    repo = tmp_path / "repo_g"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    out = tmp_path / "out_g"

    (pools / "Pool_0201_941.pol").write_text("100\n200\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    (pools / "Pool_0201_777.pol").write_text("1\n2\n3\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    # single-commit repo: HEAD~1 does not exist -> git fails -> full scan
    n, got1 = _cli_run(spark, repo, out)
    assert n == -1
    assert got1 == {
        "Pool_0201_941.pol": 2,
        "Pool_0201_395.pol": 1,
        "Pool_0201_777.pol": 3,
    }

    # commit 2: edit one pool, delete one, touch a non-.pol and an
    # out-of-subdir file -> exactly ONE file is in the processed set
    (pools / "Pool_0201_941.pol").write_text("100\n200\n300\n400\n")
    (pools / "Pool_0201_777.pol").unlink()
    (pools / "notes.txt").write_text("x")
    (repo / "Pool_0201_888.pol").write_text("9\n")  # outside samples/pools2
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2")

    n, got2 = _cli_run(spark, repo, out)
    assert n == 1
    # edited record upserted in place; untouched + deleted records
    # preserved (the reference never deletes entries: upsert-only JSON)
    assert got2 == {
        "Pool_0201_941.pol": 4,
        "Pool_0201_395.pol": 1,
        "Pool_0201_777.pol": 3,
    }

    # commit 3 touches no .pol under the subdir -> full-scan fallback
    # (etl/main.py:82-85) re-processing what exists on disk now
    (repo / "README.md").write_text("r")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3")
    n, got3 = _cli_run(spark, repo, out)
    assert n == -1
    assert got3 == got2  # 777 record survives as history (upsert semantics)


def test_incremental_git_fallback_sees_in_place_edit(spark, tmp_path):
    """ADVICE r9 (medium): the FULL-SCAN fallback must also refresh the
    scan dir's cached file statuses. Sequence: full scan reads the corpus
    (statuses cached by the session FileStatusCache, TTL=-1), a later
    commit edits a .pol IN PLACE, the newest commit touches no .pol ->
    fallback re-reads the whole corpus — which must see the edited file
    at its NEW length, not the pinned stale one."""
    repo = tmp_path / "repo_f"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    out = tmp_path / "out_f"

    f = pools / "Pool_0201_941.pol"
    f.write_text("100\n200\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    # run 1: single-commit repo -> full scan; caches the file's status
    n, got = _cli_run(spark, repo, out)
    assert n == -1
    assert got == {"Pool_0201_941.pol": 2}

    # commit 2 edits the file in place (NOT processed — simulates a
    # missed run); commit 3 touches no .pol -> the next run falls back
    f.write_text("100\n200\n300\n400\n500\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 edit")
    (repo / "README.md").write_text("r")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 no pol")

    n, got = _cli_run(spark, repo, out)
    assert n == -1
    assert got == {"Pool_0201_941.pol": 5}, (
        "fallback must read the edited file at its new length, not the "
        "FileStatusCache-pinned stale one"
    )


def test_incremental_git_out_of_subdir_match_projects_repo_relative(spark, tmp_path):
    """ADVICE r9 (low): the subdir filter is a reference-faithful posix
    SUBSTRING test (etl/extract.py:176-180), so vendor/samples/pools2/x.pol
    matches — its source_file must project relative to repo_root
    (mirroring the reference's relative_to(repo_root), etl/extract.py:125),
    never as a leaked absolute path."""
    repo = tmp_path / "repo_v"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    vendor = repo / "vendor" / "samples" / "pools2"
    vendor.mkdir(parents=True)
    out = tmp_path / "out_v"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    assert _cli_run(spark, repo, out)[0] == -1

    # commit 2 adds an OUT-OF-SUBDIR file that still matches the
    # substring filter
    (vendor / "Pool_0201_395.pol").write_text("50\n60\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 vendor")

    n, got = _cli_run(spark, repo, out)
    assert n == 1
    assert got == {
        "Pool_0201_941.pol": 1,
        "vendor/samples/pools2/Pool_0201_395.pol": 2,
    }


def test_incremental_git_out_of_subdir_in_place_edit_not_stale(spark, tmp_path):
    """ADVICE r10 (low): refreshByPath(scan_dir) only drops cached file
    statuses UNDER the scan subdir, but out-of-subdir substring matches
    (vendor/samples/pools2/x.pol) are read from outside that prefix —
    an in-place edit of one must not be read at its stale
    FileStatusCache-pinned length on the next run."""
    repo = tmp_path / "repo_vs"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    vendor = repo / "vendor" / "samples" / "pools2"
    vendor.mkdir(parents=True)
    out = tmp_path / "out_vs"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    assert _cli_run(spark, repo, out)[0] == -1

    # commit 2 adds the vendor pool; processing it caches its status
    vf = vendor / "Pool_0201_395.pol"
    vf.write_text("50\n60\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 vendor add")
    n, got = _cli_run(spark, repo, out)
    assert n == 1
    assert got["vendor/samples/pools2/Pool_0201_395.pol"] == 2

    # commit 3 edits it IN PLACE (longer) — the next run re-reads it and
    # must see the new length, not the pinned one
    vf.write_text("50\n60\n70\n80\n90\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 vendor edit")
    n, got = _cli_run(spark, repo, out)
    assert n == 1
    assert got["vendor/samples/pools2/Pool_0201_395.pol"] == 5, (
        "out-of-subdir in-place edit read at stale cached length"
    )


def test_incremental_git_outside_repo_falls_back(spark, tmp_path):
    """No git repo at all -> changed_paths_from_git returns None -> the
    full-scan fallback still produces a complete document (S3)."""
    from github_etl_pipeline_spark.streaming.incremental import changed_paths_from_git

    root = tmp_path / "plain"
    pools = root / "samples" / "pools2"
    pools.mkdir(parents=True)
    (pools / "Pool_0201_941.pol").write_text("100\n")
    assert changed_paths_from_git(root) is None
    n, got = _cli_run(spark, root, tmp_path / "out_p")
    assert n == -1
    assert got == {"Pool_0201_941.pol": 1}


def test_incremental_git_skips_excluded_changes(spark, tmp_path):
    """A changed .pol under an excluded directory is not processed, and a
    diff whose only .pol change is excluded takes the full-scan fallback
    (the reference filters before deciding, etl/extract.py:197-199)."""
    repo = tmp_path / "repo_x"
    pools = repo / "samples" / "pools2"
    (pools / "node_modules").mkdir(parents=True)
    out = tmp_path / "out_x"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    (pools / "node_modules" / "Pool_0201_111.pol").write_text("1\n2\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 excluded only")
    assert _cli_run(spark, repo, out)[0] == -1

    (pools / "node_modules" / "Pool_0201_111.pol").write_text("1\n2\n3\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 mixed")
    n, got = _cli_run(spark, repo, out)
    assert n == 1
    assert got == {"Pool_0201_941.pol": 1, "Pool_0201_395.pol": 1}


def test_incremental_reprocesses_edit_under_percent_escaped_root(spark, tmp_path, dim_agg):
    """A literal ``%25`` in a directory name is part of the name: the
    mtime churn read and the CLI's changed-files read take each changed
    path as the file system names it, never percent-decoded a second
    time."""
    import os
    import time

    from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

    corpus = tmp_path / "root %25 x"
    corpus.mkdir()
    f = corpus / "Pool_0201_941.pol"
    f.write_text("100\n200\n")
    ledger, store = tmp_path / "ledger_pct", tmp_path / "store_pct"
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 1
    f.write_text("100\n200\n300\n")
    later = time.time() + 2
    os.utime(f, (later, later))
    assert run_incremental_mtime(spark, corpus, ledger, store, dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {"Pool_0201_941.pol": 3}

    repo = tmp_path / "repo %25 g"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    g = pools / "Pool_0201_941.pol"
    g.write_text("100\n200\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    git_out = tmp_path / "out_pct_git"
    assert _cli_run(spark, repo, git_out)[0] == -1
    g.write_text("100\n200\n300\n400\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 edit")
    n, got = _cli_run(spark, repo, git_out)
    assert n == 1
    assert got == {"Pool_0201_941.pol": 4}
