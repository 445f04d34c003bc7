"""Readers for the layers under the benchmark, all taken from outside
the library: /proc for CPU and memory, the JVM's management beans and
the Spark status store and scheduler counters. Plus an in-memory span
recorder for the traced passes."""

from __future__ import annotations

import os
import time

CLK = os.sysconf("SC_CLK_TCK")


def cal_probe() -> float:
    """Wall seconds of a fixed single-thread CPU loop: a host-speed
    reading taken before set-up, never used to rescale a run."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def procs() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own CPU s, reaped children's CPU s) for every live
    process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        rest = raw[raw.rfind(b")") + 2:].split()
        out[int(d)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / CLK,
                       (int(rest[13]) + int(rest[14])) / CLK)
    return out


def cpu_split(driver_pid: int, jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the Python driver, the Spark JVM, and
    the Python workers the JVM forked (live ones plus those it reaped)."""
    table = procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    workers = table.get(jvm_pid, (0, 0.0, 0.0))[2]
    stack = list(kids.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        workers += table[pid][1] + table[pid][2]
        stack.extend(kids.get(pid, ()))
    return {"driver": table.get(driver_pid, (0, 0.0, 0.0))[1],
            "jvm": table.get(jvm_pid, (0, 0.0, 0.0))[1],
            "pyworker": workers}


def host_cpu() -> tuple[float, float]:
    """Host-wide (busy, steal) CPU seconds from /proc/stat: busy is
    user+nice+system+irq+softirq, steal is time the hypervisor ran
    another guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / CLK, v[7] / CLK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


class Jvm:
    """Counters read from the driver JVM. ``drain`` waits for Spark's
    listener bus, after which the status stores are current."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans().toArray())
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jit_ms(self) -> int:
        return int(self._jit.getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gcs)

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def next_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return 0
        return int(self._sql.executionsList(n - 1, 1).head().executionId()) + 1

    def shuffle_write_bytes(self) -> int:
        execs = self._sc.statusStore().executorList(True)
        return sum(int(execs.apply(i).totalShuffleWrite())
                   for i in range(execs.size()))


class Spans:
    """Spans kept in memory: name, start, end (perf_counter seconds),
    parent id and attributes. Written out once the run ends."""

    def __init__(self):
        self.rows: list[dict] = []

    def open(self, name: str, parent: int | None, start: float) -> int:
        self.rows.append({"id": len(self.rows), "parent": parent,
                          "name": name, "start": start, "end": None})
        return len(self.rows) - 1

    def close(self, span: int, end: float, **attrs) -> float:
        row = self.rows[span]
        row["end"] = end
        row.update(attrs)
        return end - row["start"]

    def add(self, name: str, parent: int, start: float, end: float,
            **attrs) -> float:
        return self.close(self.open(name, parent, start), end, **attrs)
