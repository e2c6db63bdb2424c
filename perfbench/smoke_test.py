#!/usr/bin/env python3
"""Smoke test of the benchmark itself: tiny inputs, one op per run.

    python3 perfbench/smoke_test.py            # all three workloads, ~4 min

For each workload it asserts that

* an untraced run is correct and prints every end-to-end metric of
  BENCHMARK.json with its unit;
* a traced run prints every per-layer metric with its unit;
* a run with one deliberately wrong expected value reports
  ``fail_ratio > 0`` (the op still runs; its check must catch it);

and that a fixed sequence cut short by the time limit counts its
missing ops as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0", "--tiny", "--ops", "1", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, expected: list[dict]) -> None:
    got = result["metrics"]
    for m in expected:
        assert m["name"] in got, f"missing metric {m['name']}"
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), got[m["name"]]
    assert set(got) == {m["name"] for m in expected}, sorted(set(got) ^ {m["name"] for m in expected})


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # pool_etl_incremental is not in BENCHMARK.json (see README.md) but stays runnable
    for wl in [w["name"] for w in bench["workloads"]] + ["pool_etl_incremental"]:
        plain = run(wl, "--trace", "0")
        assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1, plain
        check_metrics(plain, bench["end_to_end"])

        traced = run(wl, "--trace", "1")
        assert traced["correct"], traced
        check_metrics(traced, bench["per_layer"])

        wrong = run(wl, "--trace", "0", "--corrupt-expected")
        assert wrong["failed"] / wrong["attempted"] > 0, wrong
        assert not wrong["correct"], wrong
        print(f"{wl}: ok")

    cut = run("pool_etl_full", "--trace", "0", "--ops", "2", "--sequence-limit", "0")
    assert cut["attempted"] == 2 and cut["failed"] == 2 and not cut["correct"], cut
    print("cut sequence: ok")
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
