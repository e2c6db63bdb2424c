"""Outside-in measurement helpers: host noise, process-tree CPU from
``/proc``, and per-op attribution from Spark's uncompressed event log.

Nothing here reaches inside the package under test. Ops are tagged with
``SparkContext.setJobGroup`` by the caller; the event log records the
group on every job, which is how jobs, stages and tasks are attributed
to ops after the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")

def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid``, all its threads, in clock ticks."""
    st = _stat(pid)
    return int(st[1][11]) + int(st[1][12]) if st else 0


def wait_quiet(pid: int, window: float = 0.2, limit: float = 10.0) -> float:
    """Wait until process ``pid`` (the JVM) goes quiet and return the
    ``perf_counter`` time at which it did: the start of the first
    ``window`` seconds in which it used at most one clock tick of CPU.
    Work an op leaves running after its call returns (non-blocking
    unpersists, the context cleaner, GC) thus counts in the op that
    caused it. Gives up after ``limit`` s."""
    samples = []
    give_up = time.perf_counter() + limit
    while True:
        t, n = time.perf_counter(), _cpu_ticks(pid)
        samples.append((t, n))
        earlier = [s for s in samples if s[0] <= t - window]
        if earlier and n - earlier[-1][1] <= 1:
            return earlier[-1][0]
        if t > give_up:
            return t
        time.sleep(0.02)


def host_snapshot() -> dict:
    """1-minute loadavg, and the cumulative busy and steal time summed
    over all CPUs (busy: user, nice, system, irq and softirq time)."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    cpu += [0] * (8 - len(cpu))
    busy = cpu[0] + cpu[1] + cpu[2] + cpu[5] + cpu[6]
    return {"loadavg": load, "busy_s": busy / CLK_TCK, "steal_s": cpu[7] / CLK_TCK,
            "t": time.time()}


def unstolen(h0: dict, h1: dict) -> float:
    """Share of the CPUs' demand between two snapshots that the hypervisor
    granted: busy / (busy + steal). Steal accrues only on a CPU that has
    work to run, so ``wall * unstolen`` is the wall time the same work
    would have taken unstolen, on one core or on all four."""
    busy, steal = h1["busy_s"] - h0["busy_s"], h1["steal_s"] - h0["steal_s"]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def tree_cpu(root_pid: int) -> dict:
    """CPU seconds of ``root_pid`` (the JVM) and, separately, of all its
    descendants (the Python worker daemon and its forked workers,
    including workers already reaped), plus the JVM's thread count."""
    children = defaultdict(list)
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children[st[0]].append(int(entry))
                stats[int(entry)] = st[1]

    def cpu(fields, with_children):
        n = int(fields[11]) + int(fields[12])
        if with_children:
            n += int(fields[13]) + int(fields[14])
        return n / CLK_TCK

    out = {"jvm_cpu_s": 0.0, "worker_cpu_s": 0.0, "threads": 0}
    if root_pid not in stats:
        return out
    out["jvm_cpu_s"] = cpu(stats[root_pid], False)
    stack = list(children[root_pid])
    while stack:
        pid = stack.pop()
        out["worker_cpu_s"] += cpu(stats[pid], True)
        stack.extend(children[pid])
    try:
        with open(f"/proc/{root_pid}/status") as f:
            for line in f:
                if line.startswith("Threads:"):
                    out["threads"] = int(line.split()[1])
    except OSError:
        pass
    return out


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


class EventLog:
    """Per-job-group totals parsed from one application's event log."""

    def __init__(self, paths: list[str]):
        self.jobs = defaultdict(list)  # group -> [(submit_ms, end_ms)]
        self.stages = defaultdict(int)
        self.totals = defaultdict(lambda: defaultdict(float))
        self.task_ms = defaultdict(lambda: defaultdict(list))  # group -> stage -> ms
        stage_group, job_group, job_submit = {}, {}, {}
        for line in _lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = group
                job_submit[ev["Job ID"]] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                self.jobs[job_group.get(jid, "")].append(
                    (job_submit.get(jid, 0), ev.get("Completion Time", 0))
                )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                self.stages[stage_group.get(sid, "")] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                t = self.totals[group]
                t["tasks"] += 1
                t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                info = ev.get("Task Info") or {}
                self.task_ms[group][ev["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        """The first application's log: a single file, or (rolling event
        logs, the Spark 4 default) a directory of ``events_<n>_*`` parts."""
        apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not apps:
            raise FileNotFoundError(f"no event log under {log_dir}")
        if not os.path.isdir(apps[0]):
            return cls([apps[0]])
        parts = glob.glob(os.path.join(apps[0], "events_*"))
        return cls(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))

    def group(self, prefix: str, window: tuple[float, float] | None = None) -> dict:
        """Totals over the job groups ``prefix`` and ``prefix-*``; with
        ``window`` (epoch seconds of the op) also the op time that no job
        of those groups covers."""
        names = [g for g in set(self.totals) | set(self.jobs)
                 if g == prefix or g.startswith(prefix + "-")]
        out = {k: sum(self.totals[g].get(k, 0.0) for g in names if g in self.totals)
               for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                         "input_bytes", "shuffle_write_bytes", "spill_bytes")}
        jobs = [iv for g in names for iv in self.jobs.get(g, [])]
        out["jobs"] = len(jobs)
        out["stages"] = sum(self.stages.get(g, 0) for g in names)
        skews = [
            max(ms) / statistics.median(ms)
            for g in names
            for ms in self.task_ms.get(g, {}).values()
            if len(ms) >= 4 and statistics.median(ms) > 0
        ]
        out["task_skew"] = max(skews) if skews else 1.0
        if window is not None:
            out["outside_jobs_s"] = window[1] - window[0] - _union_s(jobs, window)
        return out


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def _union_s(intervals_ms, window) -> float:
    lo, hi = window[0] * 1e3, window[1] * 1e3
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals_ms if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1e3
