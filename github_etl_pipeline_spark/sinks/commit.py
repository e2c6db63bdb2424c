"""The one directory commit: every store or index that is replaced as a
whole is written complete under ``<target>._staging`` and promoted by
renames only. A writer does::

    staging = begin(target)   # recover, then an empty staging path
    ...write the whole new directory under staging...
    promote(target)

``promote`` moves the live target aside to ``<target>._old``, moves
staging in, then deletes ``._old``: a complete copy is on disk at every
instant, and a writer that fails before ``promote`` leaves the target as
it was. ``begin`` recovers each crash point before the writer reads the
target: it renames a stranded ``._old`` with no live target back, and
deletes a stale ``._old`` next to a live target and a stale staging dir.
Renames recover a crashed writer but do not isolate an in-flight read,
so run one writer per target at a time.
"""

from __future__ import annotations

import shutil
from pathlib import Path


def _staging_and_old(target: Path) -> tuple[Path, Path]:
    return (
        target.with_name(target.name + "._staging"),
        target.with_name(target.name + "._old"),
    )


def begin(target: str | Path) -> Path:
    """Recover ``target`` from any crash point of an earlier commit and
    return its staging path, which does not exist yet."""
    target = Path(target)
    staging, old = _staging_and_old(target)
    if old.exists():
        if target.exists():
            shutil.rmtree(old)
        else:
            old.rename(target)
    if staging.exists():
        shutil.rmtree(staging)
    return staging


def promote(target: str | Path) -> None:
    """Make the fully written staging dir of ``target`` the live target."""
    target = Path(target)
    staging, old = _staging_and_old(target)
    if target.exists():
        target.rename(old)
    staging.rename(target)
    if old.exists():
        shutil.rmtree(old)
