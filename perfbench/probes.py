"""Counters read from outside the program: Spark's status store (through
py4j), Catalyst's phase tracker, and ``/proc`` for the CPU time and memory
of the JVM, the PySpark worker processes and this client process.
"""

from __future__ import annotations

import json
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def steal_ticks() -> int:
    """Host-wide CPU steal ticks (``/proc/stat``, first line, 8th value)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(int(entry))) is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    """User+system CPU seconds of one process (0 once it is gone)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    fields = st[11:15] if with_reaped_children else st[11:13]
    return sum(int(x) for x in fields) / _CLK_TCK


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of every process below ``pid``. A worker that has exited
    and been reaped shows in its parent's children-time fields, a live one
    in its own, so nothing is counted twice."""
    return sum(cpu_s(p, with_reaped_children=True) for p in descendants(pid))


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def client_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


class StatusStore:
    """Jobs and stages from the driver's AppStatusStore, fetched as JSON in
    one py4j call each."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self._all = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def snapshot(self) -> tuple[list[dict], dict[int, list[dict]]]:
        """(jobs, stage attempts by stage id) once every queued listener
        event has been applied."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(self._all)))
        stages: dict[int, list[dict]] = {}
        raw = self._store.stageList(self._all, False, False, self._no_quantiles, self._all)
        for s in json.loads(self._mapper.writeValueAsString(raw)):
            stages.setdefault(s["stageId"], []).append(s)
        return jobs, stages


STAGE_COUNTERS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "memoryBytesSpilled",
    "numFailedTasks",
)


def _attributed(job: dict, group: str, window: tuple[float, float] | None, own: str) -> bool:
    """Whether a Spark job belongs to the build or collect run under job
    group ``group``: it ran under that group, or under a group that is not
    the benchmark's (a streaming query sets its run id as the group of its
    micro-batch jobs) and was submitted within ``window`` (epoch ms). One
    client thread runs one job at a time, so the window is unambiguous."""
    g = job.get("jobGroup") or ""
    if g == group:
        return True
    t = job.get("submissionTime")
    return window is not None and not g.startswith(own) and t is not None and window[0] <= t <= window[1]


def group_counts(
    jobs: list[dict],
    stages: dict[int, list[dict]],
    group: str,
    window: tuple[float, float] | None,
    own: str,
) -> dict[str, int]:
    """Sum the stage counters of every Spark job attributed to ``group``
    (see _attributed; ``own`` is the prefix of the benchmark's job groups).
    Skipped stages (shuffle output reused) did no work and are not
    counted."""
    out = dict.fromkeys(("jobs", "stages", "tasks", *STAGE_COUNTERS), 0)
    seen: set[int] = set()
    for job in jobs:
        if not _attributed(job, group, window, own):
            continue
        out["jobs"] += 1
        for sid in job["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            for attempt in stages.get(sid, ()):
                if attempt["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += (
                    attempt["numCompleteTasks"] + attempt["numFailedTasks"] + attempt["numKilledTasks"]
                )
                for key in STAGE_COUNTERS:
                    out[key] += attempt[key]
    return out


def plan_phases_ms(df) -> dict[str, int]:
    """Catalyst's analysis / optimization / planning time for ``df``."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out
