"""Host stamps and process-tree memory, read from ``/proc``.

Every run is stamped with the core count, the 1-minute load average
before and at its peak, the share of CPU time the hypervisor stole, and a
fixed single-thread CPU canary, so a run made during a slow host phase
can be recognised in the record.  Such runs are flagged, never dropped.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # guest time is already counted in user
    return fields[7], sum(fields[:8])


def cpu_canary() -> float:
    """Seconds for 2M chained md5 digests on one thread."""
    x = b"\x00" * 16
    t0 = time.perf_counter()
    for _ in range(2_000_000):
        x = hashlib.md5(x).digest()
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class HostSampler:
    """Samples load average and the resident memory of a process tree (the
    Spark driver JVM and the Python workers it forks) twice a second.

    Peak RSS is the largest sum of the tree's resident sets seen in one
    sample: Python workers come and go during a run, so summing each
    process's own high-water mark would count workers that never lived
    at the same time."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.root_pid: int | None = None
        self.load_samples: list[float] = []
        self.peak_rss_kb = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.load_samples.append(loadavg())
        if self.root_pid is not None:
            pids = descendants(self.root_pid)
            self._seen.update(pids)
            self.peak_rss_kb = max(self.peak_rss_kb,
                                   sum(_vm_rss_kb(p) for p in pids))

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self) -> "HostSampler":
        self._cpu0 = cpu_times()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        steal, total = (b - a for a, b in zip(self._cpu0, cpu_times()))
        self.steal_frac = steal / total if total else 0.0

    @property
    def pids(self) -> list[int]:
        """Every process of the tree seen in any sample."""
        return sorted(self._seen)

    @property
    def load_peak(self) -> float:
        return max(self.load_samples) if self.load_samples else loadavg()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def wait_gone(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait for ``pids`` (a Spark JVM and its Python workers) to exit;
    SIGKILL those still running Spark or PySpark after ``timeout``.
    Returns the pids that had to be killed."""
    import signal
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    killed = []
    for p in alive:
        cmd = _cmdline(p)
        if "pyspark" in cmd or "org.apache.spark" in cmd:
            try:
                os.kill(p, signal.SIGKILL)
                killed.append(p)
            except ProcessLookupError:
                pass
    return killed
