"""/proc accounting for the engine's process tree.

Roles: the Python driver (the engine child process itself), the driver JVM
(its ``java`` descendant), and the Python workers (the ``pyspark.daemon``
and the workers it forks). The input generator is a child of the engine
process too; its pid is passed in as excluded and never counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def roles(root: int, exclude: set[int] = frozenset()) -> dict[str, list[int]]:
    """``{"driver": [root], "jvm": [...], "python_worker": [...]}`` for the
    tree under ``root``; excluded pids and their descendants are skipped.

    A ``java`` process below the JVM is the JVM forking to start a helper
    command (Hadoop's local filesystem shells out for permissions): for a
    moment it shows the JVM's whole RSS again, so it and its descendants
    are skipped."""
    kids = _children_map()
    out = {"driver": [root], "jvm": [], "python_worker": []}
    stack = [(pid, False) for pid in kids.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        if pid in exclude:
            continue
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            if under_jvm:
                continue
            out["jvm"].append(pid)
            under_jvm = True
        elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            # forked workers inherit the daemon's cmdline
            out["python_worker"].append(pid)
        stack.extend((kid, under_jvm) for kid in kids.get(pid, []))
    return out


def _status_kb(pid: int, key: str, path: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_kb(pid: int) -> int:
    return _status_kb(pid, "VmRSS")


def pss_kb(pid: int) -> int:
    return _status_kb(pid, "Pss", "smaps_rollup")


def cpu_s(pid: int, with_children: bool = False) -> float:
    """utime+stime (plus reaped children's, for the worker daemon)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def footprint_mb(root: int, exclude: set[int] = frozenset()) -> dict[str, float]:
    """JVM RSS, Python driver PSS and Python worker PSS in MB, their
    ``total`` and the number of ``workers``."""
    r = roles(root, exclude)
    out = {
        "jvm": sum(rss_kb(p) for p in r["jvm"]) / 1024.0,
        "driver": sum(pss_kb(p) for p in r["driver"]) / 1024.0,
        "python_worker": sum(pss_kb(p) for p in r["python_worker"]) / 1024.0,
    }
    out["total"] = out["jvm"] + out["driver"] + out["python_worker"]
    out["workers"] = len(r["python_worker"])
    return out


def cpu_by_role(root: int, exclude: set[int] = frozenset()) -> dict[str, float]:
    """Cumulative CPU seconds per role. The worker daemon's reaped children
    are included, so workers that already exited still count."""
    r = roles(root, exclude)
    return {
        "driver": sum(cpu_s(p) for p in r["driver"]),
        "jvm": sum(cpu_s(p) for p in r["jvm"]),
        "python_worker": sum(cpu_s(p, with_children=True) for p in r["python_worker"]),
    }


class PeakSampler:
    """Background thread that samples ``footprint_mb`` every ``period`` s
    and keeps the peak. Used by the runner, outside the measured process."""

    def __init__(self, root: int, exclude_file: str | None = None, period: float = 0.25):
        self.root = root
        self.exclude_file = exclude_file
        self.period = period
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _exclude(self) -> set[int]:
        if self.exclude_file and os.path.exists(self.exclude_file):
            with open(self.exclude_file) as fh:
                return {int(x) for x in fh.read().split()}
        return set()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            try:
                now = footprint_mb(self.root, self._exclude())
            except (OSError, ValueError):
                continue
            if now["total"] > self.peak_mb:
                self.peak_mb, self.at_peak = now["total"], now

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
