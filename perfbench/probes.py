"""Measurement from outside the program: spans around public calls, Spark's
own status store, and the driver JVM and its Python workers in /proc."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans with parent links; written out once at the end.

    ``span(..., on=False)`` records nothing, so traced and untraced jobs
    run the same code."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, on: bool = True, **attrs):
        if not on:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, tuple[int, float, float]] = {}
        for s in self.spans:
            n, tot, own = out.get(s.name, (0, 0.0, 0.0))
            d = s.end - s.start
            out[s.name] = (n + 1, tot + d, own + d - child.get(s.id, 0.0))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}) + "\n")


class StatusStore:
    """Jobs and stages from Spark's AppStatusStore, serialized in the JVM
    by Jackson (one gateway round trip per list)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._double = jvm.double
        self._store = sc._jsc.sc().statusStore()
        self._dag = sc._jsc.sc().dagScheduler()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        no_quantiles = self._gateway.new_array(self._double, 0)
        return json.loads(self._mapper.writeValueAsString(self._store.stageList(None, False, False, no_quantiles, None)))

    def next_job_id(self) -> int:
        """The id the scheduler gives the next job. Jobs between two reads
        belong to the calls made between them, including jobs a streaming
        query's own thread submits."""
        return self._dag.numTotalJobs()


STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "numTasks", "inputRecords",
    "inputBytes", "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def stage_totals(jobs: list[dict], stages: list[dict], first: int, end: int) -> dict[str, int]:
    """Job count, executed stage count and summed stage counters of jobs
    ``first`` <= id < ``end`` (skipped stages are not in the stage list)."""
    by_stage = {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}
    acc = {"jobs": 0, "stages": 0, **{f: 0 for f in STAGE_FIELDS}}
    for j in jobs:
        if not first <= j["jobId"] < end:
            continue
        acc["jobs"] += 1
        for sid in j["stageIds"]:
            s = by_stage.get(sid)
            if s is not None:
                acc["stages"] += 1
                for f in STAGE_FIELDS:
                    acc[f] += s[f]
    return acc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, live plus reaped children) of every
    process below ``root_pid`` — the JVM's pyspark daemon and workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        st = stats[pid]
        # fields after the command: utime=11 stime=12 cutime=13 cstime=14
        total += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def parse_ticks(line: str) -> tuple[int, int]:
    """(stolen, busy) clock ticks from the aggregate ``cpu`` line of
    /proc/stat: stolen is time a virtual CPU was ready to run while the
    hypervisor ran something else; busy is every other non-idle state."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in line.split()[1:9])
    return steal, user + nice + system + irq + softirq


def cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        return parse_ticks(fh.readline())


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the machine's wanted CPU time the hypervisor stole
    between two ``cpu_ticks`` readings (0 on bare metal)."""
    stolen, busy = after[0] - before[0], after[1] - before[1]
    return stolen / (stolen + busy) if stolen + busy > 0 else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
