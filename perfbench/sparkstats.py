"""What Spark and the kernel say a stretch of work cost.

- Spark task metrics come from the application status store, which is
  kept with the UI off. Stages are attributed to a window of wall-clock
  time by their submission time, or to a layer by the job group of the
  job that ran them.
- CPU of the Python workers (the JW kernel and other UDFs run there, and
  ``executorCpuTime`` counts only JVM task threads) and peak RSS come
  from ``/proc``, over the driver JVM and every process below it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

MB = 1024 * 1024
_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class StageCost:
    """Sums over stages, in seconds and MB."""

    cpu_s: float = 0.0  # executorCpuTime (JVM task threads)
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "StageCost") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int
    job_group: str | None
    cost: StageCost


class StatusStore:
    """Reads completed stages newer than a watermark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.seen = -1

    def _settle(self) -> None:
        # stage metrics reach the store through the listener bus
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Ignore every stage submitted so far."""
        self._settle()
        stages = self._stage_list()
        if stages.size():
            self.seen = stages.apply(0).stageId()

    def _stage_list(self):
        gw = self.sc._gateway
        empty = gw.jvm.java.util.ArrayList
        return self.jsc.statusStore().stageList(
            empty(), False, False, gw.new_array(gw.jvm.double, 0), empty()
        )

    def _groups(self, stage_ids_wanted: set[int]) -> dict[int, str]:
        """stage id -> job group, for jobs that ran any of the given stages."""
        gw = self.sc._gateway
        jobs = self.jsc.statusStore().jobsList(gw.jvm.java.util.ArrayList())
        out: dict[int, str] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            ids = job.stageIds()
            stage_ids = [ids.apply(k) for k in range(ids.size())]
            if not stage_ids_wanted.intersection(stage_ids):
                continue
            group = job.jobGroup()
            if group.isDefined():
                for s in stage_ids:
                    out.setdefault(s, group.get())
        return out

    def take(self, with_groups: bool = False) -> list[Stage]:
        """Stages submitted since the last ``mark``/``take`` that ran
        (skipped stages carry no submission time and cost nothing), with
        the job group of each when ``with_groups``."""
        self._settle()
        stages = self._stage_list()
        rows = []
        for i in range(stages.size()):
            s = stages.apply(i)  # newest first
            if s.stageId() <= self.seen:
                break
            sub = s.submissionTime()
            if not sub.isDefined():
                continue
            rows.append((s.stageId(), sub.get().getTime(), StageCost(
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_read_mb=s.shuffleReadBytes() / MB,
                shuffle_write_mb=s.shuffleWriteBytes() / MB,
                fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
                failed_tasks=s.numFailedTasks(),
            )))
        if stages.size():
            self.seen = max(self.seen, stages.apply(0).stageId())
        groups = self._groups({r[0] for r in rows}) if with_groups else {}
        return [Stage(sid, ms, groups.get(sid), c) for sid, ms, c in rows]


def in_window(stages: list[Stage], start_ms: int, end_ms: int) -> StageCost:
    total = StageCost()
    for s in stages:
        if start_ms <= s.submitted_ms <= end_ms:
            total.add(s.cost)
    return total


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def process_tree(root: int) -> list[int]:
    """``root`` first, then every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def worker_cpu_s(root: int) -> float:
    """CPU seconds of every process below the JVM (the PySpark daemon and
    its workers), counting reaped children through the parent's
    ``cutime``/``cstime`` so a worker exiting mid-window loses nothing."""
    return tree_cpu_s(root, include_root=False)


def tree_cpu_s(root: int, include_root: bool = True) -> float:
    """CPU seconds of ``root`` (all its threads) and every process below it."""
    total = 0
    for pid in process_tree(root)[0 if include_root else 1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_gb(root: int) -> dict:
    """VmHWM (peak resident set) of the JVM, and summed over its Python
    workers, in GB."""
    out = {"jvm": 0.0, "python": 0.0, "python_processes": 0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if pid == root:
            out["jvm"] = kb / (1024 * 1024)
        else:
            out["python"] += kb / (1024 * 1024)
            out["python_processes"] += 1
    return out
