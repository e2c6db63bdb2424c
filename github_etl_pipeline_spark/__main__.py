"""CLI entry point (reference EP1: ``python etl/main.py [--all]``,
etl/main.py:154-165).

    python -m github_etl_pipeline_spark [--repo-root PATH] [--output-dir PATH]
                                        [--incremental] [--all]

``--incremental`` runs the streaming file-source checkpoint ledger
(``streaming/incremental.run_incremental``): keyed on file path, it
processes each new file once and never re-processes an in-place edit, so
it is not the reference's S2 git-diff mode (``run_incremental_git``).
The default is a full batch run (``--all`` accepted for CLI-parity, it
is the default behavior). Root resolution mirrors the
reference: $GITHUB_WORKSPACE, else walk up to a .git directory, else cwd.
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
    ap.add_argument("--all", action="store_true", help="full batch run (default)")
    ap.add_argument("--incremental", action="store_true", help="streaming checkpoint mode")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--cpus", default=None)
    args = ap.parse_args(argv)

    from github_etl_pipeline_spark.session import get_spark

    root = resolve_root(args.repo_root)
    out = Path(args.output_dir) if args.output_dir else root / "Meta_data"
    spark = get_spark(cpus=args.cpus)

    if args.incremental:
        from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim
        from github_etl_pipeline_spark.streaming.incremental import run_incremental

        dim = load_game_lookup(spark, root)
        scan = root / args.scan_subdir
        ckpt = Path(args.checkpoint_dir) if args.checkpoint_dir else out / "_checkpoint"
        n = run_incremental(
            spark,
            scan if scan.exists() else root,
            ckpt,
            out / "pools_store",
            prepare_dim(dim) if dim is not None else None,
        )
        print(f"incremental run complete: {n} micro-batch(es)")
    else:
        from github_etl_pipeline_spark.pipeline import run_pipeline

        run_pipeline(spark, root, scan_subdir=args.scan_subdir, output_dir=out)
        # the count the run just wrote: pools.count() here would rerun the
        # scan, since run_pipeline has released its caches
        summary = json.loads((out / "_pipeline_summary.json").read_text())
        print(f"batch run complete: {summary['files_processed']} pool(s) -> {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
