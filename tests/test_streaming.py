"""M7: incremental processing via streaming file source + checkpoint
(reference S2/S3/EP2 — the git-diff loop re-expressed as Structured
Streaming with Trigger.AvailableNow)."""

import pytest

from github_etl_pipeline_spark.sinks.upsert import read_store
from github_etl_pipeline_spark.sources.lookup import prepare_dim
from github_etl_pipeline_spark.streaming.incremental import run_incremental


@pytest.fixture()
def dim_agg(spark):
    dim = spark.createDataFrame(
        [("G", "9493", "201", 25.0)], "Game string, Game_id string, Pool_id string, Bet double"
    )
    return prepare_dim(dim)


def test_incremental_two_runs(spark, tmp_path, dim_agg):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    ckpt = tmp_path / "ckpt"
    store = tmp_path / "store"

    (corpus / "Pool_0201_941.pol").write_text("100\n200\n")
    n1 = run_incremental(spark, corpus, ckpt, store, dim_agg)
    assert n1 >= 1
    got1 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got1 == {"Pool_0201_941.pol": 2}

    # second run with a NEW file: only it is processed; old record preserved
    (corpus / "Pool_0201_395.pol").write_text("50\n")
    n2 = run_incremental(spark, corpus, ckpt, store, dim_agg)
    assert n2 >= 1
    got2 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got2 == {"Pool_0201_941.pol": 2, "Pool_0201_395.pol": 1}

    # third run, nothing new -> no batches with data, store unchanged
    n3 = run_incremental(spark, corpus, ckpt, store, dim_agg)
    got3 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got3 == got2


def test_incremental_kpis_match_batch(spark, tmp_path, dim_agg):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "Pool_0201_941.pol").write_text("0\n100\n200\n300\n")
    run_incremental(spark, corpus, tmp_path / "ck", tmp_path / "st", dim_agg)
    row = spark.read.parquet(str(tmp_path / "st")).first()
    # size=4, total=600, bet=25: rtp = 600/(4*25)*100 = 600.0
    assert row.size == 4 and row.rtp == 600.0 and row.hit_frequency == 75.0


def test_incremental_mtime_reprocesses_in_place_edit(spark, tmp_path, dim_agg):
    """The (path, mtime)-keyed ledger (run_incremental_mtime) must match
    the reference's git-diff change model: an IN-PLACE edit of an
    already-processed file is detected and its KPI row updated — the
    case the path-keyed streaming checkpoint cannot see."""
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
    from github_etl_pipeline_spark.sources.pol import read_pol_lines
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_mtime

    corpus = tmp_path / "corpus_d"
    (corpus / "sub").mkdir(parents=True)
    (corpus / "Pool_0201_941.pol").write_text("100\n200\n")
    (corpus / "sub" / "Pool_0201_395.pol").write_text("50\n")

    # the full-scan read (the batch scan) is rooted at the scan dir: its
    # FileScan location lists exactly one root path, not per-file paths
    raw = read_pol_lines(spark, str(corpus))
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


def test_incremental_git_processes_last_commit_churn(spark, tmp_path, dim_agg):
    """run_incremental_git is the reference's LITERAL change log
    (etl/extract.py:55-80,160-211): one `git diff --name-only HEAD~1
    HEAD` call decides the file set — edited files re-processed,
    deleted files skipped, files outside the scan subdir ignored,
    full-scan fallback when the diff has no .pol files."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_g"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    store = tmp_path / "store_g"

    (pools / "Pool_0201_941.pol").write_text("100\n200\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    (pools / "Pool_0201_777.pol").write_text("1\n2\n3\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    # single-commit repo: HEAD~1 does not exist -> git fails -> full scan
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1
    got1 = {r.source_file: r.size for r in read_store(spark, store).collect()}
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

    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got2 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    # edited row upserted in place; untouched + deleted rows preserved
    # (the reference never deletes store entries: upsert-only JSON)
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
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1
    got3 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got3 == got2  # 777 row survives as history (upsert semantics)


def test_incremental_git_fallback_sees_in_place_edit(spark, tmp_path, dim_agg):
    """ADVICE r9 (medium): the FULL-SCAN fallback must also refresh the
    scan dir's cached file statuses. Sequence: full scan reads the corpus
    (statuses cached by the session FileStatusCache, TTL=-1), a later
    commit edits a .pol IN PLACE, the newest commit touches no .pol ->
    fallback re-reads the whole corpus — which must see the edited file
    at its NEW length, not the pinned stale one."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_f"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    store = tmp_path / "store_f"

    f = pools / "Pool_0201_941.pol"
    f.write_text("100\n200\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    # run 1: single-commit repo -> full scan; caches the file's status
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1
    assert read_store(spark, store).first().size == 2

    # commit 2 edits the file in place (NOT processed — simulates a
    # missed run); commit 3 touches no .pol -> the next run falls back
    f.write_text("100\n200\n300\n400\n500\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 edit")
    (repo / "README.md").write_text("r")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 no pol")

    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {"Pool_0201_941.pol": 5}, (
        "fallback must read the edited file at its new length, not the "
        "FileStatusCache-pinned stale one"
    )


def test_incremental_git_base_ref_covers_multi_commit_gap(spark, tmp_path, dim_agg):
    """ADVICE r9 (low): the default HEAD~1 diff assumes run-once-per-
    commit; a caller that missed a commit passes the last-processed ref
    as base_ref and the diff covers the whole gap."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_b"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    store = tmp_path / "store_b"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1

    # two commits land between runs, each adding one pool
    (pools / "Pool_0201_395.pol").write_text("50\n60\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2")
    (pools / "Pool_0201_777.pol").write_text("1\n2\n3\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3")

    # default HEAD~1 sees only c3's churn (the documented reference
    # cadence assumption) ...
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {"Pool_0201_941.pol": 1, "Pool_0201_777.pol": 3}

    # ... while base_ref covering the gap processes BOTH commits' files
    assert (
        run_incremental_git(
            spark, repo, store, dim_agg=dim_agg, base_ref="HEAD~2"
        )
        == 2
    )
    got2 = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got2 == {
        "Pool_0201_941.pol": 1,
        "Pool_0201_395.pol": 2,
        "Pool_0201_777.pol": 3,
    }


def test_incremental_git_out_of_subdir_match_projects_repo_relative(
    spark, tmp_path, dim_agg
):
    """ADVICE r9 (low): the subdir filter is a reference-faithful posix
    SUBSTRING test (etl/extract.py:176-180), so vendor/samples/pools2/x.pol
    matches — its source_file must project relative to repo_root
    (mirroring the reference's relative_to(repo_root), etl/extract.py:125),
    never as a leaked absolute path."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_v"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    vendor = repo / "vendor" / "samples" / "pools2"
    vendor.mkdir(parents=True)
    store = tmp_path / "store_v"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1

    # commit 2 adds an OUT-OF-SUBDIR file that still matches the
    # substring filter
    (vendor / "Pool_0201_395.pol").write_text("50\n60\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 vendor")

    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {
        "Pool_0201_941.pol": 1,
        "vendor/samples/pools2/Pool_0201_395.pol": 2,
    }


def test_incremental_git_out_of_subdir_in_place_edit_not_stale(
    spark, tmp_path, dim_agg
):
    """ADVICE r10 (low): refreshByPath(scan_dir) only drops cached file
    statuses UNDER the scan subdir, but out-of-subdir substring matches
    (vendor/samples/pools2/x.pol) are read from outside that prefix —
    an in-place edit of one must not be read at its stale
    FileStatusCache-pinned length on the next run."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_vs"
    pools = repo / "samples" / "pools2"
    pools.mkdir(parents=True)
    vendor = repo / "vendor" / "samples" / "pools2"
    vendor.mkdir(parents=True)
    store = tmp_path / "store_vs"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1

    # commit 2 adds the vendor pool; processing it caches its status
    vf = vendor / "Pool_0201_395.pol"
    vf.write_text("50\n60\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 vendor add")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got["vendor/samples/pools2/Pool_0201_395.pol"] == 2

    # commit 3 edits it IN PLACE (longer) — the next run re-reads it and
    # must see the new length, not the pinned one
    vf.write_text("50\n60\n70\n80\n90\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 vendor edit")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got["vendor/samples/pools2/Pool_0201_395.pol"] == 5, (
        "out-of-subdir in-place edit read at stale cached length"
    )


def test_incremental_git_outside_repo_falls_back(spark, tmp_path, dim_agg):
    """No git repo at all -> changed_paths_from_git returns None -> the
    full-scan fallback still produces a complete store (S3)."""
    from github_etl_pipeline_spark.streaming.incremental import (
        changed_paths_from_git,
        run_incremental_git,
    )

    root = tmp_path / "plain"
    pools = root / "samples" / "pools2"
    pools.mkdir(parents=True)
    (pools / "Pool_0201_941.pol").write_text("100\n")
    assert changed_paths_from_git(root) is None
    assert run_incremental_git(spark, root, tmp_path / "store_p", dim_agg=dim_agg) == -1
    got = {
        r.source_file: r.size
        for r in read_store(spark, tmp_path / "store_p").collect()
    }
    assert got == {"Pool_0201_941.pol": 1}


def test_incremental_git_skips_excluded_changes(spark, tmp_path, dim_agg):
    """A changed .pol under an excluded directory is not processed, and a
    diff whose only .pol change is excluded takes the full-scan fallback
    (the reference filters before deciding, etl/extract.py:197-199)."""
    from github_etl_pipeline_spark.streaming.incremental import run_incremental_git

    repo = tmp_path / "repo_x"
    pools = repo / "samples" / "pools2"
    (pools / "node_modules").mkdir(parents=True)
    store = tmp_path / "store_x"

    (pools / "Pool_0201_941.pol").write_text("100\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c1")

    (pools / "node_modules" / "Pool_0201_111.pol").write_text("1\n2\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c2 excluded only")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == -1

    (pools / "node_modules" / "Pool_0201_111.pol").write_text("1\n2\n3\n")
    (pools / "Pool_0201_395.pol").write_text("50\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "c3 mixed")
    assert run_incremental_git(spark, repo, store, dim_agg=dim_agg) == 1
    got = {r.source_file: r.size for r in read_store(spark, store).collect()}
    assert got == {"Pool_0201_941.pol": 1, "Pool_0201_395.pol": 1}
