#!/usr/bin/env python3
"""Run every workload once and print the end-to-end metrics as a table.

    python3 perfbench/report.py --seed 1            # ~3 min
    python3 perfbench/report.py --seed 1 --trace    # also a traced run each

Prints ``setup_s``, ``batch_s``, ``op_s.p50`` (with its sample count),
``rows_per_s`` and ``fail_ratio`` (failed / attempted ops) per workload;
with ``--trace`` also a traced run of each workload with the same seed,
and its overhead: traced ``batch_s`` minus the untraced ``batch_s`` the
report has just measured.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"]]
    print(f"{'workload':22s}" + "".join(f"{n:>16s}" for n in names) + f"{'fail_ratio':>12s}")
    # pool_etl_incremental runs here too, though BENCHMARK.json leaves it out
    for name in [w["name"] for w in bench["workloads"]] + ["pool_etl_incremental"]:
        res = run(name, args.seed, bench["run_seconds"], 0)
        m = res["metrics"]
        row = "".join(f"{m[n]['value']:>12.4g} {m[n]['unit']:<3s}" for n in names)
        print(f"{name:22s}{row}{res['failed'] / res['attempted']:>12.3f}")
        if args.trace:
            traced = run(name, args.seed, bench["run_seconds"], 1)["metrics"]
            t = traced["trace.batch_s"]["value"]
            print(f"  traced batch_s {t:.3f} s, overhead {t - m['batch_s']['value']:+.3f} s")
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    print("op_s.p50 is the median over the fixed sequence ("
          + ", ".join(f"{n} {w.ops} ops" for n, w in WORKLOADS.items()) + ")")
    return 0


if __name__ == "__main__":
    sys.exit(main())
