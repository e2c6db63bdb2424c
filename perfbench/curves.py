#!/usr/bin/env python3
"""Record op-by-op curves: how op time falls as a fresh process warms.

    python3 perfbench/curves.py --workload pool_etl_full --ops 10 --seeds 1 2 3

Runs the workload once per seed with a longer fixed sequence (``--ops``)
and writes ``perfbench/curves/<workload>.json``: per run the op times and
the set-up time, plus the host's loadavg and steal. These curves are
what the fixed sequence lengths in workloads.py are chosen from.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", "0", "--ops", str(args.ops)]
        subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, timeout=600)
        with open(os.path.join(ROOT, ".perfbench_work", "runs.jsonl")) as f:
            rec = json.loads(f.readlines()[-1])
        runs.append({k: rec[k] for k in ("seed", "ops", "setup_s", "failed", "host")})
        print(f"seed {seed}: " + " ".join(f"{t:.2f}" for t in rec["ops"]), flush=True)
    os.makedirs(os.path.join(HERE, "curves"), exist_ok=True)
    with open(os.path.join(HERE, "curves", f"{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "ops": args.ops, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
