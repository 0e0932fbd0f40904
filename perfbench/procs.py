"""Process-tree accounting from ``/proc``: CPU seconds split by role and
resident memory, for the benchmark process and everything it started.

Roles:
- ``driver_py``: this Python process (the Spark driver's Python side);
- ``jvm``: the Spark JVM, a direct ``java`` child of this process;
- ``py_workers``: every descendant of the JVM (the ``pyspark.daemon``
  and the Arrow/pandas workers it forks).

A reaped process's CPU time moves into its parent's ``cutime``/``cstime``
fields, so a worker that exits between two snapshots is neither lost
nor counted twice as long as each process contributes its own
``utime+stime`` plus the ``cutime+cstime`` of children it reaped.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: children of this process left out of every role: the benchmark's own
#: host-speed probe
IGNORED: set[int] = set()


def _read_procs() -> dict[int, tuple[int, str, tuple[int, int, int, int]]]:
    """pid -> (ppid, comm, (utime, stime, cutime, cstime)) for every
    visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        lpar, rpar = raw.index("("), raw.rindex(")")
        rest = raw[rpar + 2 :].split()
        out[int(entry)] = (
            int(rest[1]),
            raw[lpar + 1 : rpar],
            (int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14])),
        )
    return out


def _tree(procs: dict) -> dict[str, list[int]]:
    """Split this process's descendants into roles."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    roles = {"driver_py": [me], "jvm": [], "py_workers": [], "other": []}
    for child in children.get(me, ()):
        if child in IGNORED:
            continue
        role = "jvm" if procs[child][1] == "java" else "other"
        roles[role].append(child)
        stack = list(children.get(child, ()))
        while stack:
            pid = stack.pop()
            roles["py_workers" if role == "jvm" else "other"].append(pid)
            stack.extend(children.get(pid, ()))
    return roles


def descendants() -> list[int]:
    """Pids of every process this one started, directly or not."""
    roles = _tree(_read_procs())
    return roles["jvm"] + roles["py_workers"] + roles["other"]


def cpu_snapshot() -> dict[str, float]:
    """Cumulative CPU seconds per role, plus ``total``."""
    procs = _read_procs()
    roles = _tree(procs)
    out = {}
    for role, pids in roles.items():
        ticks = 0
        for pid in pids:
            ut, st, cut, cst = procs[pid][2]
            ticks += ut + st
            # reaped children belong to the reaper's role, except the
            # driver's: the JVM is never reaped during a run
            if role != "driver_py":
                ticks += cut + cst
        out[role] = ticks / _TICKS
    # time of processes the JVM reaped (restarted daemons) is worker time
    jvm_reaped = 0
    for pid in roles["jvm"]:
        jvm_reaped += sum(procs[pid][2][2:])
    out["jvm"] -= jvm_reaped / _TICKS
    out["py_workers"] += jvm_reaped / _TICKS
    out["total"] = sum(out[r] for r in roles)
    return out


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in b}


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """One background thread that samples the tree's resident memory
    every ``INTERVAL_S`` and keeps the peaks: the whole tree, and the
    Python workers alone."""

    INTERVAL_S = 0.1

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.peak_tree = 0
        self.peak_workers = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        roles = _tree(_read_procs())
        workers = sum(_rss_bytes(p) for p in roles["py_workers"])
        tree = workers + sum(
            _rss_bytes(p) for r in ("driver_py", "jvm", "other") for p in roles[r]
        )
        with self._lock:
            self.peak_tree = max(self.peak_tree, tree)
            self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def peaks_mb(self) -> tuple[float, float]:
        """(tree, python workers) peak resident MiB, including one fresh
        sample so a short window is never empty."""
        self.sample()
        with self._lock:
            return self.peak_tree / 2**20, self.peak_workers / 2**20
