"""Measurement probes: Spark status-store deltas and process-tree CPU/RSS.

Both read state the system already keeps; nothing here changes what the
measured code does.  ``StageMeter`` sums the task metrics of every stage
that completed since its last mark, read from the application status store
(populated with the UI disabled too).  ``ProcTree`` reads /proc for this
process and all its descendants at the calls' boundaries only; no
sampler runs while the system works.
"""

from __future__ import annotations

import os
import time

# StageData accessors summed per delta, with the key they are reported as
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_mem_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


class StageMeter:
    """Per-call deltas of stage metrics from the Spark status store."""

    def __init__(self, spark):
        self._sc = spark._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._mark = -1
        self.read_s = 0.0  # time spent reading the store (tracing overhead)
        self.mark()

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty(30_000)
        empty = self._gw.jvm.java.util.ArrayList()
        return self._sc.statusStore().stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), empty
        )

    def _newer(self):
        """Stages newer than the mark; the store lists newest first."""
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= self._mark:
                return
            yield s

    def mark(self) -> None:
        t0 = time.perf_counter()
        for s in self._newer():
            self._mark = max(self._mark, s.stageId())
        self.read_s += time.perf_counter() - t0

    def delta(self) -> dict:
        """Summed metrics of the stages completed since the last mark;
        moves the mark."""
        t0 = time.perf_counter()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["stages"] = 0
        top = self._mark
        for s in list(self._newer()):
            sid = s.stageId()
            if str(s.status()) != "COMPLETE":  # skipped: its work ran earlier
                continue
            top = max(top, sid)
            out["stages"] += 1
            for key, attr in _STAGE_FIELDS.items():
                out[key] += getattr(s, attr)()
        self._mark = top
        self.read_s += time.perf_counter() - t0
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


class ProcTree:
    """CPU seconds and peak resident memory of this process and its
    descendants: the driver JVM and the Python workers."""

    def __init__(self):
        self._root = os.getpid()
        self._tick = os.sysconf("SC_CLK_TCK")

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self._root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def _cpu(self, pid: int) -> float:
        """CPU seconds of one process, including its reaped children."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0
        # fields[0] is state (stat field 3): utime/stime/cutime/cstime are
        # stat fields 14-17
        return sum(int(x) for x in fields[11:15]) / self._tick

    def cpu_seconds(self) -> float:
        return sum(self._cpu(p) for p in self.pids())

    def peak_rss_bytes(self) -> int:
        """Sum of the peak resident sets of the live processes."""
        return sum(peak_rss_bytes(p) for p in self.pids())


def peak_rss_bytes(pid: int) -> int:
    """VmHWM (peak resident set) of one process, e.g. the driver JVM."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0
