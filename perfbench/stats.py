"""Measurement helpers of the benchmark: percentiles, dashboard visibility,
and per-process CPU/RSS of the engine's process tree read from ``/proc``."""

from __future__ import annotations

import math
import os
import signal
import threading
import time

#: percentiles the tail reporter may name, lowest first
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(pct/100 * n))."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def tail(samples: list[float], min_beyond: int = 10) -> dict | None:
    """The highest candidate percentile with at least ``min_beyond`` samples
    strictly above its value, with that value and the sample count; ``None``
    when even the median has fewer beyond it."""
    best = None
    for pct in TAIL_CANDIDATES:
        v = percentile(samples, pct) if samples else None
        if v is None or sum(1 for x in samples if x > v) < min_beyond:
            break
        best = {"pct": pct, "value": v, "n": len(samples)}
    return best


def visible_times(cum_rows: list[int], polls: list[tuple[float, int]]) -> list[float | None]:
    """Time each file became visible to the dashboard.

    ``cum_rows[i]`` is the row count of files ``0..i``; ``polls`` holds
    (poll end time, total row count the poll saw) in time order. File ``i``
    is visible at the first poll whose count covers ``cum_rows[i]``; ``None``
    if no poll did."""
    out: list[float | None] = []
    j = 0
    for need in cum_rows:
        while j < len(polls) and polls[j][1] < need:
            j += 1
        out.append(polls[j][0] if j < len(polls) else None)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks utime+stime, rss pages) of every live
    (non-zombie) process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rp = raw.rfind(")")
        comm = raw[raw.find("(") + 1:rp]
        fields = raw[rp + 2:].split()
        if fields[0] == "Z":
            continue
        # fields[0] is state: ppid=1, utime=11, stime=12, rss=21
        out[int(d)] = (int(fields[1]), comm, int(fields[11]) + int(fields[12]),
                       int(fields[21]))
    return out


def _walk(table: dict, root: int, exclude=frozenset()) -> list[int]:
    """Pids below ``root`` in ``table``, skipping the subtrees at ``exclude``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [p for p in kids.get(root, []) if p not in exclude]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(p for p in kids.get(pid, []) if p not in exclude)
    return out


def descendants(root: int) -> set[int]:
    """Every live process below ``root``."""
    return set(_walk(_proc_table(), root))


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives ``timeout``."""
    deadline = time.time() + timeout
    while True:
        alive = pids & set(_proc_table())
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        try:  # reap our own exited children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


class ProcSampler:
    """Samples the CPU time and resident memory of every descendant of
    ``root`` (the JVM and its Python workers), except the subtrees rooted at
    ``exclude`` pids (load generators). CPU is cumulative per process kind,
    counting processes that have since exited at their last sample."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.exclude: set[int] = set()
        self._cpu: dict[int, tuple[str, int]] = {}
        self._rss_peak = {"jvm": 0, "py": 0, "total": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        table = _proc_table()
        rss = {"jvm": 0, "py": 0}
        with self._lock:
            for pid in _walk(table, self.root, self.exclude):
                _ppid, comm, ticks, pages = table[pid]
                # other commands are short-lived helpers; a child caught
                # between fork and exec would count the JVM's memory twice
                kind = "jvm" if comm == "java" else "py" if comm.startswith("python") else None
                if kind is not None:
                    self._cpu[pid] = (kind, ticks)
                    rss[kind] += pages * _PAGE
            for k, v in rss.items():
                self._rss_peak[k] = max(self._rss_peak[k], v)
            self._rss_peak["total"] = max(self._rss_peak["total"], rss["jvm"] + rss["py"])

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU-seconds per kind (``jvm``, ``py``) and in total,
        sampled now."""
        self.sample()
        with self._lock:
            out = {"jvm": 0.0, "py": 0.0}
            for kind, ticks in self._cpu.values():
                out[kind] += ticks / _TICK
        out["total"] = out["jvm"] + out["py"]
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self._rss_peak = {"jvm": 0, "py": 0, "total": 0}
        self.sample()

    def peak_mb(self) -> dict[str, float]:
        """Peak per kind and in total since the last ``reset_peak``."""
        self.sample()
        with self._lock:
            return {k: v / 2**20 for k, v in self._rss_peak.items()}


def steal_s() -> float:
    """CPU-seconds the hypervisor has so far withheld from this machine's
    processors (the ``steal`` column of ``/proc/stat``), summed over them;
    its growth during a run shows how busy the neighbours were."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}
