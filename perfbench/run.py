#!/usr/bin/env python3
"""Fresh-process benchmark of the pool-analytics engine.

    python3 perfbench/run.py --workload pool_etl_full --seed 1 --seconds 20 --trace 0

One process per run, as the push-triggered CI job runs: set up (generate
the seeded inputs, start Spark, and for the incremental workload load
the store), then a FIXED sequence of ops that starts cold. If the
sequence finishes before ``--seconds`` have passed, further ops run (and
are checked) until they have; ``batch_s`` and ``op_s.p50`` always cover
the fixed sequence only.

An op lasts from its call until the JVM has gone quiet again, so work
the call leaves running counts in it. Every time is scaled by the share
of the CPUs' demand the hypervisor granted during it, busy / (busy +
steal), which removes the time stolen by other tenants of a shared host
(see perfbench/README.md).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
sequence with Spark's event log on and ops tagged by job group, then
probes single layers, and prints the per-layer metrics instead (see
perfbench/README.md for the metric-to-layer map). The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RUN_LOG = os.path.join(WORK_ROOT, "runs.jsonl")
SEQUENCE_LIMIT_S = 100  # no new op starts later: the run must end within 180 s

END_TO_END_UNITS = {"setup_s": "s", "batch_s": "s", "op_s.p50": "s", "rows_per_s": "1/s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pool_etl_full", "pool_etl_incremental", "query_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ops", type=int, default=None,
                    help="length of the fixed sequence (default: the workload's)")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value (self-test of the checks)")
    ap.add_argument("--sequence-limit", type=float, default=SEQUENCE_LIMIT_S,
                    help="seconds from process start after which no op starts")
    return ap.parse_args(argv)


def run(args) -> dict:
    """One benchmark run: returns the result object and appends the run's
    record (raw and scaled times, host noise) to ``runs.jsonl``."""
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    import tracing
    import workloads

    host0 = tracing.host_snapshot()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.tiny, work)
    wl.corrupt = args.corrupt_expected
    wl.traced = bool(args.trace)
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    t = time.perf_counter()
    spark = workloads.start_session(work, event_dir)
    boot_s = time.perf_counter() - t
    wl.setup(spark, "setup")
    setup_s = time.perf_counter() - T_START
    n_ops = args.ops or (1 if args.tiny else wl.ops)

    if args.trace:
        import probes
    pid = workloads.jvm_pid()
    setup_norm = setup_s * tracing.unstolen(host0, tracing.host_snapshot())
    tracing.wait_quiet(pid)
    ops = []  # per op: wall, window, cpu, ok
    attempted = failed = 0
    t_first = time.perf_counter()
    i = 0
    while i < n_ops or time.perf_counter() - t_first < args.seconds:
        if time.perf_counter() - T_START > args.sequence_limit:
            break
        wl.prepare(i)
        if args.trace:
            spark.sparkContext.setJobGroup(f"op-{i}", wl.name)
            cpu0, py0 = tracing.tree_cpu(pid), tracing.self_cpu_s()
        h0 = tracing.host_snapshot()
        w0, s = time.time(), time.perf_counter()
        err = None
        try:
            wl.op(spark, i)
        except Exception:  # a failed op is counted, never retried
            err = traceback.format_exc(limit=3)
        call_s = time.perf_counter() - s
        wall = tracing.wait_quiet(pid) - s
        h1 = tracing.host_snapshot()
        rec = {"i": i, "wall_s": wall, "call_s": call_s, "window": (w0, w0 + wall),
               "steal_s": h1["steal_s"] - h0["steal_s"], "busy_s": h1["busy_s"] - h0["busy_s"],
               "rows": 0}
        if args.trace:
            cpu1, py1 = tracing.tree_cpu(pid), tracing.self_cpu_s()
            rec.update(
                jvm_cpu_s=cpu1["jvm_cpu_s"] - cpu0["jvm_cpu_s"],
                worker_cpu_s=cpu1["worker_cpu_s"] - cpu0["worker_cpu_s"],
                driver_cpu_s=py1 - py0,
                threads=cpu1["threads"],
            )
            if hasattr(wl, "timing") and len(wl.timing) > i:
                rec.update(wl.timing[i])
            if err is None:
                probes.after_op(wl, rec)
        rec["norm_s"] = wall * tracing.unstolen(h0, h1)
        c0 = time.perf_counter()
        if err is None:
            try:
                err = wl.check(i)
            except Exception:
                err = traceback.format_exc(limit=3)
        rec["check_s"] = time.perf_counter() - c0
        rec["rows"] = wl.rows(i)
        attempted += 1
        if err:
            failed += 1
            print(f"op {i} FAILED: {err}", file=sys.stderr)
        rec["ok"] = err is None
        if i < n_ops:
            ops.append(rec)
        i += 1
    cut = n_ops - len(ops)
    if cut:  # ops of the fixed sequence that never ran count as failed
        attempted += cut
        failed += cut
        print(f"sequence cut after {len(ops)} of {n_ops} ops "
              f"({args.sequence_limit:g} s limit); {cut} counted as failed", file=sys.stderr)

    threads = tracing.tree_cpu(pid)["threads"]
    layers = {}
    if args.trace:
        layers = probes.run_probes(wl, spark, work)
        workloads.stop_jvm(spark)
        layers.update(probes.attribute(wl, ops, tracing.EventLog.find(event_dir)))
        layers["spark.threads"] = threads
    else:
        workloads.stop_jvm(spark)
    host1 = tracing.host_snapshot()
    shutil.rmtree(work, ignore_errors=True)
    print(f"run wall {time.perf_counter() - T_START:.1f} s")

    walls = [r["wall_s"] for r in ops] or [0.0]
    norm = [r["norm_s"] for r in ops] or [0.0]
    batch_s = sum(norm)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "tiny": args.tiny, "ops": walls, "calls": [r["call_s"] for r in ops],
        "norm_ops": norm, "setup_s": setup_s, "setup_norm_s": setup_norm, "boot_s": boot_s,
        "attempted": attempted, "failed": failed,
        "check_s": sum(r["check_s"] for r in ops),
        "op_steal": [r["steal_s"] for r in ops], "op_busy": [r["busy_s"] for r in ops],
        "host": {"loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
                 "steal_s": host1["steal_s"] - host0["steal_s"], "spark_threads": threads,
                 "unstolen": tracing.unstolen(host0, host1)},
    }
    if args.trace:
        layers.update(
            {"session.boot_s": boot_s, "setup.cold_s": setup_s,
             "pipeline.cold_op_s": walls[0],
             "pipeline.warm_ratio": walls[0] / (statistics.median(walls[1:] or walls) or 1.0),
             "host.steal_s": record["host"]["steal_s"],
             "host.loadavg_start": host0["loadavg"], "host.loadavg_end": host1["loadavg"],
             "host.unstolen": record["host"]["unstolen"], "trace.batch_s": batch_s}
        )
        record["layers"] = layers
        metrics = {k: {"value": v, "unit": probes.UNITS[k]} for k, v in sorted(layers.items())}
    else:
        e2e = {
            "setup_s": setup_norm,
            "batch_s": batch_s,
            "op_s.p50": statistics.median(norm),
            "rows_per_s": sum(r["rows"] for r in ops) / batch_s if batch_s else 0.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        record["metrics"] = e2e
    _log(record)
    _print_summary(record, metrics, n_ops)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _log(record: dict) -> None:
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(RUN_LOG, "a") as f:
        f.write(json.dumps(record) + "\n")


def _print_summary(record: dict, metrics: dict, n_ops: int) -> None:
    h = record["host"]
    print(f"{record['workload']} seed={record['seed']} trace={record['trace']} "
          f"fixed ops={n_ops} attempted={record['attempted']} failed={record['failed']} "
          f"fail_ratio={record['failed'] / record['attempted']:.3f}")
    print("op times (s): " + " ".join(f"{w:.2f}" for w in record["ops"])
          + "; unstolen: " + " ".join(f"{w:.2f}" for w in record["norm_ops"]))
    print(f"set-up {record['setup_s']:.2f} s; checks {record['check_s']:.2f} s")
    print(f"host: {h['unstolen']:.3f} of CPU demand granted, "
          f"loadavg {h['loadavg_start']:.2f} -> {h['loadavg_end']:.2f}, "
          f"steal {h['steal_s']:.2f} s, JVM threads after the sequence {h['spark_threads']}")
    for k, m in metrics.items():
        note = f" (n={n_ops})" if k == "op_s.p50" else ""
        print(f"  {k} = {m['value']:.6g} {m['unit']}{note}")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import github_etl_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
