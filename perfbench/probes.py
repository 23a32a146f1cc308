"""Read-only probes: process-tree memory from ``/proc``, Spark's status
store and Catalyst's phase tracker, Zarr metadata reads, and the host state.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    the Python workers it forks) and keeps the peak of the sum, and of each
    part, in MB."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        #: descendant pids seen in the last sample
        self.descendants: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        root = os.getpid()
        parent, comm = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            close = stat.rfind(")")
            comm[int(d)] = stat[stat.find("(") + 1 : close]
            parent[int(d)] = int(stat[close + 2 :].split()[1])
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        seen, todo = set(), [root]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            seen.add(pid)
            try:
                with open(f"/proc/{pid}/statm") as f:
                    mb = int(f.read().split()[1]) * _PAGE / 2**20
            except OSError:
                continue
            part = "driver" if pid == root else "jvm" if comm.get(pid) == "java" else "workers"
            parts[part] += mb
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)
        self.peak["total"] = max(self.peak["total"], sum(parts.values()))
        self.descendants = seen - {root}


class SparkProbe:
    """Per-operation numbers from the status store. Each operation runs
    under its own job group; after it, the listener bus is drained and the
    group's jobs and stages are read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        return group

    def group_stats(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "stage_run_s", "executor_cpu_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "job_wall_s"),
            0,
        )
        job_walls = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                job_walls.append((done.get().getTime() - sub.get().getTime()) / 1e3)
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                attempts = self._store.stageData(
                    it.next(), False, self._no_status, False, self._no_quantiles
                ).iterator()
                while attempts.hasNext():
                    s = attempts.next()
                    if s.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["stage_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["job_wall_s"] = sum(job_walls)
        out["last_job_wall_s"] = job_walls[-1] if job_walls else 0.0
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) of the
    DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while phases.hasNext():
        kv = phases.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


_BATCH_SCAN = re.compile(r"BatchScan zarr\[([^\]]*)\]")


def scanned_columns(df) -> list[str]:
    """Columns the executed plan's Zarr scan decodes (first Zarr scan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = _BATCH_SCAN.findall(plan)
    return [a.strip().split("#")[0] for a in scans[0].split(",")] if scans else []


class MetadataReads:
    """Counts ``zarr.json`` files this process opens while armed, through
    the interpreter's ``open`` audit event."""

    def __init__(self):
        self.armed = False
        self.count = 0
        sys.addaudithook(self._hook)

    def _hook(self, event, args):
        if self.armed and event == "open" and str(args[0]).endswith("zarr.json"):
            self.count += 1


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp(cpu_start: dict | None) -> dict:
    """nproc, load averages and the steal share since ``cpu_start``."""
    from zarr_datafusion_search_spark.benchutil import cpu_stat_snapshot, steal_pct_between

    return {
        "nproc": cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_pct": steal_pct_between(cpu_start, cpu_stat_snapshot()),
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
