"""Stdlib /proc sampler: CPU by process kind and peak memory of the tree.

Kinds: ``driver`` (this Python process), ``jvm`` (java descendants) and
``pyworker`` (Python descendants of the JVM: the PySpark daemon and its
forked workers). CPU is utime+stime of each live process, remembered at
its last sample, so a worker that exits keeps what it used until then.
Memory is the summed RSS of the driver and the JVM plus the summed PSS
(``smaps_rollup``) of the Python workers: the forked workers share most
of their pages with the daemon, and RSS counts those once per worker, so
it moves with the number of idle workers alive. (The JVM's PSS would be
exact too, but reading it walks the page tables of the whole heap, ~40 ms
a read, and slowed the crawl down.)
"""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) ... rss(21)
    return (comm, int(rest[1]), int(rest[11]) + int(rest[12]),
            int(rest[21]) * _PAGE)


class ProcSampler(threading.Thread):
    def __init__(self, interval_s: float = 0.25):
        super().__init__(name="perfbench-procstat", daemon=True)
        self.interval_s = interval_s
        self.root = os.getpid()
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self.cpu: dict[int, tuple[str, int]] = {}
        self.peak_mem = 0
        self.peak_parts: dict[str, int] = {}  # bytes by kind at the peak

    def sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        kinds = {self.root: "driver"}
        changed = True
        while changed:  # walk the tree down from this process
            changed = False
            for pid, (comm, ppid, _, _) in procs.items():
                if pid not in kinds and ppid in kinds:
                    parent = kinds[ppid]
                    kinds[pid] = "jvm" if comm == "java" else (
                        "pyworker" if parent in ("jvm", "pyworker") else "other")
                    changed = True
        parts: dict[str, int] = {}
        for pid, kind in kinds.items():
            parts[kind] = parts.get(kind, 0) + (
                _pss_bytes(pid) if kind == "pyworker" else procs[pid][3])
        mem = sum(parts.values())
        with self._lock:
            for pid, kind in kinds.items():
                self.cpu[pid] = (kind, procs[pid][2])
            if mem > self.peak_mem:
                self.peak_mem, self.peak_parts = mem, parts

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval_s)

    def halt(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()
        self.sample()

    def cpu_s(self) -> dict[str, float]:
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        with self._lock:
            for kind, ticks in self.cpu.values():
                out[kind] += ticks / _TICK
        return out

    def peak_rss_mb(self) -> float:
        """Peak memory of the tree (see the module docstring), MiB."""
        return self.peak_mem / 2**20
