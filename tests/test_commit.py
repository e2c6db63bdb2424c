"""The directory commit (sinks/commit.py): ``begin`` recovers every crash
point of an earlier commit, and ``promote`` replaces the target whole."""

from __future__ import annotations

import pytest

from github_etl_pipeline_spark.sinks import commit


def _write(directory, text):
    directory.mkdir()
    (directory / "part-0").write_text(text)


def _read(directory):
    return (directory / "part-0").read_text()


@pytest.fixture
def paths(tmp_path):
    target = tmp_path / "store"
    return (
        target,
        target.with_name("store._staging"),
        target.with_name("store._old"),
    )


def test_commit_creates_then_replaces_target(paths):
    target, staging, old = paths
    for text in ("v1", "v2"):
        assert commit.begin(target) == staging
        assert not staging.exists()
        _write(staging, text)
        commit.promote(target)
        assert _read(target) == text
        assert not staging.exists() and not old.exists()


def test_begin_restores_target_stranded_at_old(paths):
    """Crash between promote's two renames: the committed copy sits only
    at ``._old`` (and the new staging dir may still be there)."""
    target, staging, old = paths
    _write(old, "committed")
    _write(staging, "half-promoted")
    commit.begin(target)
    assert _read(target) == "committed"
    assert not old.exists() and not staging.exists()


def test_begin_drops_stale_old_next_to_live_target(paths):
    """Crash after promote moved staging in, before it deleted ``._old``:
    the live target is the new commit."""
    target, staging, old = paths
    _write(target, "new")
    _write(old, "previous")
    commit.begin(target)
    assert _read(target) == "new"
    assert not old.exists()


def test_begin_drops_stale_staging(paths):
    """Crash while writing staging: the target is untouched and the
    partial staging dir is discarded before the next write."""
    target, staging, old = paths
    _write(target, "committed")
    _write(staging, "partial")
    assert commit.begin(target) == staging
    assert not staging.exists()
    assert _read(target) == "committed"
    _write(staging, "next")
    commit.promote(target)
    assert _read(target) == "next"
