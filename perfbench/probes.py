"""Per-layer metrics of the traced run.

Two sources, both outside the package:

* ``attribute`` — per-op totals from the event log (jobs, stages, tasks,
  executor run and CPU time, GC, bytes) and from ``/proc`` (JVM versus
  Python CPU), averaged over the fixed sequence;
* ``run_probes`` — after the sequence, single layers timed through their
  public functions: a layer's self time is the time of the plan prefix
  that ends in it minus the time of the prefix that ends just before it,
  each run through the ``noop`` sink. Each pass reads the whole corpus
  and the traced run must end within 180 s, so the scan prefix runs
  twice, keeping the faster (a single pass once read 6.8 s where the
  faster of two read 4.3-4.4 s), and the others once; a self time
  smaller than the passes' scatter can read negative.

Every run prints every metric; a layer the workload does not exercise
reads 0 (for example ``sinks.upsert.s`` on ``query_batch``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import workloads

REPS = 3
INCREMENTAL_ROUNDS = 2

UNITS = {
    "session.boot_s": "s", "setup.cold_s": "s",
    "pipeline.cold_op_s": "s", "pipeline.warm_ratio": "ratio",
    "jvm.cpu_s": "s", "python.cpu_s": "s", "python.worker_cpu_s": "s",
    "spark.gc_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "driver.outside_jobs_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.threads": "count",
    "sources.pol.scan_s": "s", "sources.pol.rows": "count",
    "operators.kpis.dist_s": "s", "operators.kpis.kpi_s": "s",
    "operators.kpis.dist_rows": "count", "operators.rollup.s": "s",
    "sinks.reports.json_s": "s", "sinks.reports.files_s": "s",
    "sinks.upsert.s": "s", "sinks.upsert.bytes_written": "bytes",
    "sinks.upsert.files_written": "count", "sinks.upsert.buckets_touched": "count",
    "streaming.incremental.s": "s", "streaming.incremental.files_changed": "count",
    "streaming.incremental.read_ratio": "ratio",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.exec_s": "s", "plans.exec_jobs": "count",
    **{f"plans.{fam}.{m}": ("count" if m.endswith("jobs") else "s")
       for fam in workloads.FAMILIES for m in ("build_s", "build_jobs", "exec_s", "exec_jobs")},
    "sources.tables.register_s": "s", "catalyst.plan_s": "s",
    "host.steal_s": "s", "host.loadavg_start": "load", "host.loadavg_end": "load",
    "host.unstolen": "ratio",
    "trace.batch_s": "s",
}


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _noop_pass(spark, make_df, passes: int = 1) -> tuple[float, int]:
    """Seconds of the fastest of ``passes`` runs of ``make_df()`` through
    the noop sink, and its row count (observed in the same pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from github_etl_pipeline_spark.session import sweep_caches

    secs = []
    for _ in range(passes):
        obs = Observation()
        t = time.perf_counter()
        make_df().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop").mode("overwrite").save()
        secs.append(time.perf_counter() - t)
        sweep_caches(spark)
    return min(secs), obs.get["n"]


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning of ``df``'s own query
    execution, from Spark's phase tracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def _scan_and_kpis(spark, root: str, dim_agg) -> dict:
    from github_etl_pipeline_spark.operators.kpis import pool_distribution, pool_kpis
    from github_etl_pipeline_spark.operators.rollup import aggregated_summary
    from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines

    def parsed():
        return parse_pol_lines(read_pol_lines(spark, root), keep_invalid=True)

    scan_s, rows = _noop_pass(spark, parsed, passes=2)
    # the distribution reads two columns; its prefix is the scan pruned to them
    narrow_s, _ = _noop_pass(spark, lambda: parsed().select("source_file", "game_win"))
    dist_total, dist_rows = _noop_pass(
        spark, lambda: pool_distribution(parsed().select("source_file", "game_win"),
                                         ["source_file"]))
    kpi_total, _ = _noop_pass(spark, lambda: pool_kpis(parsed(), dim_agg=dim_agg))
    roll_total, _ = _noop_pass(
        spark, lambda: aggregated_summary(pool_kpis(parsed(), dim_agg=dim_agg)))
    return {
        "sources.pol.scan_s": scan_s, "sources.pol.rows": rows,
        "operators.kpis.dist_s": dist_total - narrow_s,
        "operators.kpis.dist_rows": dist_rows,
        "operators.kpis.kpi_s": kpi_total - dist_total,
        "operators.rollup.s": roll_total - kpi_total,
    }


def _report_sinks(spark, root: str, dim_agg, out: str) -> dict:
    from github_etl_pipeline_spark.operators.kpis import pool_kpis
    from github_etl_pipeline_spark.operators.rollup import aggregated_summary
    from github_etl_pipeline_spark.sinks.reports import (
        generate_index_file, save_as_csv, save_summary_report)
    from github_etl_pipeline_spark.sinks.upsert import write_consolidated_json
    from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines

    pools = pool_kpis(parse_pol_lines(read_pol_lines(spark, root), keep_invalid=True),
                      dim_agg=dim_agg).persist()
    summary = aggregated_summary(pools).persist()
    pools.count(), summary.count()
    json_s, files_s = [], []
    try:
        for rep in range(REPS):
            d = os.path.join(out, f"rep{rep}")
            os.makedirs(d)
            consolidated = os.path.join(d, "all_pools_data.json")
            json_s.append(_timed(lambda: write_consolidated_json(pools, consolidated)))
            files_s.append(_timed(lambda: (
                save_summary_report(summary, {"files_processed": 0},
                                    os.path.join(d, "_pipeline_summary.json")),
                generate_index_file(consolidated, os.path.join(d, "_index.json")),
                save_as_csv(pools, os.path.join(d, "_all_files_summary.csv")))))
    finally:
        pools.unpersist()
        summary.unpersist()
    return {"sinks.reports.json_s": statistics.median(json_s),
            "sinks.reports.files_s": statistics.median(files_s)}


def _files(path: str) -> dict:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _upsert(wl, spark, work: str) -> dict:
    """``upsert_parquet`` of one changed batch into the live store."""
    from github_etl_pipeline_spark.operators.kpis import pool_kpis
    from github_etl_pipeline_spark.sinks.upsert import upsert_parquet
    from github_etl_pipeline_spark.sources.pol import parse_pol_lines, read_pol_lines

    wl.prepare(10_000)
    batch = os.path.join(work, "probe-batch")
    for f in wl.touched:
        dst = os.path.join(batch, f.rel_path)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(os.path.join(wl.root, f.rel_path), dst)
    pools = pool_kpis(parse_pol_lines(read_pol_lines(spark, batch), keep_invalid=True),
                      dim_agg=wl.dim_agg).persist()
    pools.count()
    before = _files(wl.store)
    secs = _timed(lambda: upsert_parquet(spark, pools, wl.store))
    pools.unpersist()
    after = _files(wl.store)
    written = [p for p, v in after.items() if before.get(p) != v and not
               os.path.basename(p).startswith((".", "_"))]
    return {
        "sinks.upsert.s": secs,
        "sinks.upsert.bytes_written": sum(after[p][0] for p in written),
        "sinks.upsert.files_written": len(written),
        "sinks.upsert.buckets_touched": len({os.path.dirname(p) for p in written}),
    }


def _incremental(wl, spark, work: str) -> dict:
    """The incremental path on its own corpus of many small files: an
    initial load, then ``INCREMENTAL_ROUNDS`` rounds of k rewritten files each."""
    inc = workloads.PoolEtlIncremental(wl.seed, wl.tiny, work)
    inc.setup(spark, "probe-incremental")
    secs = []
    for i in range(INCREMENTAL_ROUNDS):
        inc.prepare(i)
        spark.sparkContext.setJobGroup(f"probe-incremental-{i}", "incremental probe")
        secs.append(_timed(lambda: inc.op(spark, i)))
        spark.sparkContext.setJobGroup("probe", "layer probes")
        bad = inc.check(i)
        if bad:
            raise RuntimeError(f"incremental probe: {bad}")
    wl.incremental_probe = inc
    return {"streaming.incremental.s": statistics.median(secs),
            "streaming.incremental.files_changed": _mean(inc.changed_log),
            **_upsert(inc, spark, work)}


def run_probes(wl, spark, work: str) -> dict:
    """Untimed single-layer probes, run after the fixed sequence."""
    from github_etl_pipeline_spark.sources.lookup import prepare_dim

    spark.sparkContext.setJobGroup("probe", "layer probes")
    out = {k: 0.0 for k in UNITS}
    if wl.name == "pool_etl_full":
        dim_agg = prepare_dim(wl.dim)
        out.update(_scan_and_kpis(spark, wl.root, dim_agg))
        out.update(_report_sinks(spark, wl.root, dim_agg, os.path.join(work, "probe-out")))
        out.update(_incremental(wl, spark, work))
    elif wl.name == "pool_etl_incremental":
        out.update(_scan_and_kpis(spark, wl.root, wl.dim_agg))
        out.update(_upsert(wl, spark, work))
    else:
        from github_etl_pipeline_spark.sources.tables import register_views

        out["sources.tables.register_s"] = statistics.median(
            _timed(lambda: register_views(spark, wl.sf_dir)) for _ in range(REPS))
    return out


def after_op(wl, rec: dict) -> None:
    """Untimed per-op probe: Catalyst time of the DataFrame the op built."""
    df = getattr(wl, "df", None) if wl.name == "query_batch" else getattr(wl, "pools", None)
    if df is not None:
        rec["plan_s"] = plan_seconds(df)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _read_ratio(inc, groups: list[dict]) -> float:
    """Bytes of the rewritten files over bytes the incremental run read
    (listing, ledger and store reads included)."""
    return _mean(b / g["input_bytes"] for b, g in zip(inc.touched_bytes, groups)
                 if g["input_bytes"])


def attribute(wl, ops: list[dict], log) -> dict:
    """Per-op means over the fixed sequence, from the event log and /proc."""
    per_op = [log.group(f"op-{r['i']}", window=r["window"]) for r in ops]
    out = {
        "jvm.cpu_s": _mean(r["jvm_cpu_s"] for r in ops),
        "python.worker_cpu_s": _mean(r["worker_cpu_s"] for r in ops),
        "python.cpu_s": _mean(r["worker_cpu_s"] + r["driver_cpu_s"] for r in ops),
        "spark.gc_s": _mean(g["gc_s"] for g in per_op),
        "spark.jobs": _mean(g["jobs"] for g in per_op),
        "spark.stages": _mean(g["stages"] for g in per_op),
        "spark.tasks": _mean(g["tasks"] for g in per_op),
        "driver.outside_jobs_s": _mean(g["outside_jobs_s"] for g in per_op),
        "spark.executor_run_s": _mean(g["executor_run_s"] for g in per_op),
        "spark.executor_cpu_s": _mean(g["executor_cpu_s"] for g in per_op),
        "spark.spill_bytes": _mean(g["spill_bytes"] for g in per_op),
        "spark.task_skew": statistics.median(g["task_skew"] for g in per_op),
        "spark.input_bytes": _mean(g["input_bytes"] for g in per_op),
        "spark.shuffle_write_bytes": _mean(g["shuffle_write_bytes"] for g in per_op),
        "catalyst.plan_s": _mean(r.get("plan_s", 0.0) for r in ops),
    }
    if wl.name == "pool_etl_incremental":
        out["streaming.incremental.s"] = statistics.median(r["wall_s"] for r in ops)
        out["streaming.incremental.files_changed"] = _mean(wl.changed_log)
        out["streaming.incremental.read_ratio"] = _read_ratio(wl, per_op)
    probe = getattr(wl, "incremental_probe", None)
    if probe is not None:
        out["streaming.incremental.read_ratio"] = _read_ratio(
            probe, [log.group(f"probe-incremental-{i}") for i in range(INCREMENTAL_ROUNDS)])
    if wl.name == "query_batch":
        rows = []
        for r in ops:
            fam = wl.query(r["i"])[1]
            rows.append((fam, r["build_s"], log.group(f"op-{r['i']}-build")["jobs"],
                         r["exec_s"], log.group(f"op-{r['i']}-exec")["jobs"]))
        for prefix, sel in [("plans", rows)] + [
            (f"plans.{fam}", [x for x in rows if x[0] == fam]) for fam in workloads.FAMILIES
        ]:
            for j, m in enumerate(("build_s", "build_jobs", "exec_s", "exec_jobs"), start=1):
                out[f"{prefix}.{m}"] = _mean(x[j] for x in sel)
    return out
