"""Peak resident memory of the Spark JVM and its Python workers, from /proc.

``VmHWM`` is each process's own high-water mark. A background thread samples
the JVM (a child of the driver process) and every live Python worker under
it; the peak is the largest ``JVM HWM + Σ worker HWM`` seen at one sample.
"""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakSampler(threading.Thread):
    def __init__(self, driver_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.driver_pid, self.interval = driver_pid, interval
        self.jvm_mb = self.python_mb = self.peak_mb = 0.0
        self._halt = threading.Event()

    def sample(self) -> None:
        for jvm in (p for p in _children(self.driver_pid) if _comm(p) == "java"):
            j = _hwm_mb(jvm)
            py = sum(_hwm_mb(p) for p in _descendants(jvm) if _comm(p).startswith("python"))
            self.jvm_mb = max(self.jvm_mb, j)
            self.python_mb = max(self.python_mb, py)
            self.peak_mb = max(self.peak_mb, j + py)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self.sample()
        self._halt.set()
        self.join()
