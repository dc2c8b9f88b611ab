"""Host-side readings: peak memory of the Spark processes and a fixed-work
CPU control (informational, so a drifting host is visible)."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...);
    the name is parenthesised and may hold spaces."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> dict[int, str]:
    """Descendants of ``root`` as pid -> start time (to tell a reused pid)."""
    kids = _children_map()
    todo, out = list(kids.get(root, [])), {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            out[pid] = _stat_fields(pid)[19]
        except OSError:
            continue
    return out


def _alive(pid: int, started: str) -> bool:
    try:
        fields = _stat_fields(pid)
    except OSError:
        return False
    return fields[19] == started and fields[0] != "Z"


def wait_exited(procs: dict[int, str], grace: float = 10.0, timeout: float = 30.0) -> None:
    """Wait until every process in ``procs`` has exited; SIGTERM the ones
    still running after ``grace`` seconds, SIGKILL them after ``timeout``."""
    t0 = time.monotonic()
    sent = None
    while True:
        alive = [p for p, st in procs.items() if _alive(p, st)]
        if not alive:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > timeout else signal.SIGTERM if waited > grace else None
        if sig is not None and sig != sent:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
            sent = sig
        time.sleep(0.1)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes sharing it. Python workers are forked from one
    daemon and share most of their pages, so plain RSS would count those
    once per idle worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def workers_pss_bytes(root: int) -> int:
    """PSS of the PySpark daemon and Python workers: every ``python*``
    descendant of ``root``. Other descendants (the JVM and the helpers it
    spawns for local filesystem commands) are not counted."""
    kids = _children_map()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class PeakMemory:
    """Memory of the Spark processes while active, in three parts; each is
    its largest reading.

    - ``jvm_heap``: the driver JVM's live heap, read right after a full
      collection, which ``settle`` forces between passes. The heap in use
      between collections is not used: its peak is set by when the collector
      chooses to run, and the JVM's resident size also by how much heap the
      collector has reserved, not by what the engine keeps.
    - ``jvm_non_heap``: the JVM's non-heap pools (class metadata, compiled
      code), each at the peak the JVM records for it.
    - ``workers``: the Python processes' PSS, sampled every ``interval``
      seconds.
    """

    def __init__(self, spark, interval: float = 0.2):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._system = jvm.java.lang.System
        self._memory = mf.getMemoryMXBean()
        self._non_heap = [p for p in mf.getMemoryPoolMXBeans()
                          if p.getType().name() == "NON_HEAP"]
        self.interval = interval
        self.peaks = {"jvm_heap": 0, "jvm_non_heap": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        try:
            while not self._stop.is_set():
                self.peaks["workers"] = max(self.peaks["workers"], workers_pss_bytes(me))
                self._stop.wait(self.interval)
        except Exception as exc:  # reported by __exit__, not lost with the thread
            self.error = exc

    def settle(self) -> None:
        """Force a full collection and read the heap still in use. Called
        off the clock; it also starts every pass from the same heap state."""
        self._system.gc()
        used = self._memory.getHeapMemoryUsage().getUsed()
        self.peaks["jvm_heap"] = max(self.peaks["jvm_heap"], used)

    def __enter__(self):
        self.error = None
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peaks["jvm_non_heap"] = sum(p.getPeakUsage().getUsed() for p in self._non_heap)
        if self.error is not None and exc[0] is None:
            raise RuntimeError("memory sampling failed") from self.error

    @property
    def peak_mb(self) -> float:
        return sum(self.peaks.values()) / 2**20

    @property
    def peaks_mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.peaks.items()}


def cpu_control_s(n: int = 1_000_000) -> float:
    """Seconds for a fixed pure-Python loop; slower readings mean a busier or
    throttled host, not a slower engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0
