"""Memory of the engine's processes, and the CPU time the host took from
this machine (steal), read from ``/proc``.

The engine's processes are this process's descendants: the Spark JVM and
its Python daemon and workers. This process runs the engine's driver-side
Python code, but also the benchmark's own client.
"""

from __future__ import annotations

import os
import threading


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k] + _descendants(k)
    return out


def _status_kb(pid: int, name: str, field: str) -> int:
    """One ``<field>: <n> kB`` line of ``/proc/<pid>/<name>``, 0 if absent."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _engine_processes() -> tuple[list[int], list[int]]:
    """This process's descendants, split into the Spark JVM and the rest
    (its Python daemon and workers)."""
    jvm, workers = [], []
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                (jvm if f.read().strip() == "java" else workers).append(pid)
        except OSError:
            continue
    return jvm, workers


class PeakMemory:
    """Peak memory of the engine's processes while the block runs: the
    JVM's peak resident size, its high-water mark reset when the block
    starts, plus the largest summed proportional set size (Pss) of the
    Python workers, sampled every ``interval`` seconds. Pss counts a page a
    forked worker shares with its daemon once in total. The JVM's Pss is not
    sampled: reading it walks the JVM's page tables while it runs. This
    process is left out: it holds the benchmark's own input generator,
    replay model and oracle tables."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.workers_kb = 0
        self.jvm_kb = 0
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            _, workers = _engine_processes()
            kb = sum(_status_kb(p, "smaps_rollup", "Pss") for p in workers)
            self.workers_kb = max(self.workers_kb, kb)
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        for pid in _engine_processes()[0]:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")  # reset the peak resident size to the current one
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.jvm_kb = sum(_status_kb(p, "status", "VmHWM") for p in _engine_processes()[0])
        self.peak = (self.jvm_kb + self.workers_kb) / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
