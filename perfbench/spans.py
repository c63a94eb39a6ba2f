"""Spans and Spark work counters, recorded from outside the program.

Every timed call runs under its own Spark job group. When tracing is
on, the counters of that group are read from Spark's status store
right after the call returns: the store keeps only the last 1000 jobs
and stages (``spark.ui.retainedJobs``/``retainedStages``), and one
iterative query can submit hundreds. The read path is
``statusTracker().getJobIdsForGroup`` -> ``store.job(id).stageIds()``
-> ``store.stageData(...)``, which works with ``spark.ui.enabled=false``.

Every timed call is also charged the CPU seconds the machine spent busy
while it ran (``busy_cpu_s``). Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time

COUNTERS = (
    "jobs", "stages", "tasks", "single_task_stages", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "executor_run_ms", "executor_cpu_ms",
)

_TICK = os.sysconf("SC_CLK_TCK")


def busy_cpu_s() -> float:
    """CPU seconds the CPUs this process may run on have spent busy (user,
    nice, system, irq and softirq in ``/proc/stat``) since boot.

    The count covers every process on those CPUs, including the Python
    workers the PySpark daemon forks and reaps without accounting them to
    any parent, so it assumes the benchmark is the only busy program on
    the machine. Time the hypervisor steals from the guest is counted as
    steal, not as busy time, so unlike wall time this figure does not grow
    when other guests load the host."""
    cpus = {f"cpu{i}" for i in os.sched_getaffinity(0)}
    ticks = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *fields = line.split()
            if name in cpus:
                user, nice, system, _idle, _iowait, irq, softirq = map(int, fields[:7])
                ticks += user + nice + system + irq + softirq
    return ticks / _TICK


class Tracer:
    """Times calls and, when ``enabled``, records a span with the Spark
    counters of each call's job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._seq = 0

    def call(self, name: str, fn, group_of=None):
        """Run ``fn()`` under a fresh job group; returns ``(result, seconds,
        cpu_seconds, span)``. ``span`` is None when tracing is off.
        ``group_of(result)`` names one more job group whose counters belong
        to the call (a streaming query runs its batches under its own
        group)."""
        self._seq += 1
        group = f"bench-{self._seq}"
        self.sc.setJobGroup(group, name)
        c0 = busy_cpu_s()
        t0 = time.perf_counter()
        out = fn()
        seconds = time.perf_counter() - t0
        cpu = busy_cpu_s() - c0
        if not self.enabled:
            return out, seconds, cpu, None
        span = {"id": self._seq, "name": name, "start": t0,
                "end": t0 + seconds, "cpu_s": cpu, **self.counters(group)}
        if group_of is not None:
            for key, value in self.counters(group_of(out)).items():
                span[key] += value
        self.spans.append(span)
        return out, seconds, cpu, span

    def span(self, name: str, start: float, end: float, record: bool) -> None:
        """Record a span that has no job group of its own (session start,
        set-up, warm-up)."""
        if record:
            self.spans.append({"id": None, "name": name, "start": start, "end": end})

    def counters(self, group: str) -> dict:
        # the status store is fed by the asynchronous listener bus; drain
        # it so the jobs that just finished are all in the store
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        no_tasks = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.length()):
                attempts = store.stageData(stage_ids.apply(i), False, no_tasks, False, no_quantiles)
                for a in range(attempts.length()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["single_task_stages"] += s.numTasks() == 1
                    out["input_bytes"] += s.inputBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["executor_run_ms"] += s.executorRunTime()
                    out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
