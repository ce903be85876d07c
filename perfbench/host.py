"""Host stamp and process-tree memory, read from /proc (no psutil)."""

from __future__ import annotations

import os
import threading

_CONTENDERS = ("org.apache.spark.deploy.SparkSubmit", "pytest")


def _children(pid: int) -> list:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def process_tree(root: int) -> set:
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return seen


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with each page shared between
    processes split among them, so a sum over processes counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def contenders(own: set) -> list:
    """Spark JVMs and pytest runs on the host outside this process tree."""
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in own:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(c in cmd for c in _CONTENDERS):
            found.append(f"{entry}:{cmd[:80]}")
    return found


def cpu_ticks() -> list:
    """The host's CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list, end: list) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def stamp() -> dict:
    own = process_tree(os.getpid())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "contenders": contenders(own),
        "cpu_ticks": cpu_ticks(),
    }


class MemorySampler:
    """Samples the summed PSS of this process and its descendants (the
    driver JVM and its Python workers) on a background thread, and keeps
    the per-process split of the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_split: dict = {}  # process name -> PSS MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            split = {pid: pss_bytes(pid) for pid in process_tree(root)}
            total = sum(split.values())
            if total > self.peak:
                self.peak = total
                self.peak_split = {}
                for pid, b in split.items():
                    name = _name(pid)
                    self.peak_split[name] = self.peak_split.get(name, 0) + b / 1e6
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
