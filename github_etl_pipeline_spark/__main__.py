"""CLI entry point (reference EP1: ``python etl/main.py [--all]``,
etl/main.py:154-165).

    python -m github_etl_pipeline_spark [--repo-root PATH] [--output-dir PATH]
                                        [--scan-subdir SUB] [--all] [--cpus N]

By default a run processes only the .pol files the last commit changed
(``git diff --name-only HEAD~1 HEAD``,
``streaming/incremental.changed_pol_paths``) and falls back to a full
scan when there are none or git fails (S2/S3); ``--all`` forces the full
scan. Either way ``run_pipeline`` upserts ``all_pools_data.json`` and
writes the index, and the summary and CSV of the run's files. Root
resolution mirrors the reference: $GITHUB_WORKSPACE, else walk up to a
.git directory, else cwd.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path


def resolve_root(explicit: str | None) -> Path:
    if explicit:
        return Path(explicit)
    if os.environ.get("GITHUB_WORKSPACE"):
        return Path(os.environ["GITHUB_WORKSPACE"])
    cur = Path.cwd()
    for p in (cur, *cur.parents):
        if (p / ".git").exists():
            return p
    return cur


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="github_etl_pipeline_spark")
    ap.add_argument("--repo-root", default=None)
    ap.add_argument("--output-dir", default=None, help="default: <repo-root>/Meta_data")
    ap.add_argument("--scan-subdir", default="samples/pools2")
    ap.add_argument("--all", action="store_true", help="full scan, not the last commit's files")
    ap.add_argument("--cpus", default=None)
    args = ap.parse_args(argv)

    from github_etl_pipeline_spark.pipeline import run_pipeline
    from github_etl_pipeline_spark.session import get_spark
    from github_etl_pipeline_spark.streaming.incremental import changed_pol_paths

    root = resolve_root(args.repo_root)
    out = Path(args.output_dir) if args.output_dir else root / "Meta_data"
    spark = get_spark(cpus=args.cpus)
    paths = None if args.all else changed_pol_paths(spark, root, args.scan_subdir)
    run_pipeline(spark, root, scan_subdir=args.scan_subdir, output_dir=out, paths=paths)
    # the count the run just wrote: pools.count() here would rerun the
    # scan, since run_pipeline has released its caches
    summary = json.loads((out / "_pipeline_summary.json").read_text())
    print(f"batch run complete: {summary['files_processed']} pool(s) -> {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
