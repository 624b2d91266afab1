"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's process owns a JVM (the Spark driver, started through
py4j) which in turn forks the Python workers, so the cost of a run is the
sum over the whole tree. ``cutime``/``cstime`` of a live process already
hold the CPU of its children that have exited and been reaped, so summing
``utime + stime + cutime + cstime`` over the live tree counts every
descendant exactly once.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int, proc: str = "/proc") -> dict | None:
    """Fields of ``/proc/<pid>/stat`` the benchmark uses, or None if the
    process is gone. ``comm`` may hold spaces and parentheses, so fields
    are split after the last ')'."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # rest[0] is field 3 (state) of proc(5)
    return {
        "ppid": int(rest[1]),
        "cpu_ticks": int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
        "rss_pages": int(rest[21]),
    }


def tree_stats(root: int, proc: str = "/proc") -> list[dict]:
    """stat records of ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    return sum(s["cpu_ticks"] for s in tree_stats(root, proc)) / CLK_TCK


class RssSampler:
    """Samples the tree's total RSS on a background thread. Use as a
    context manager around the region of interest."""

    def __init__(self, root: int, interval_s: float = 0.2, proc: str = "/proc"):
        self.root, self.interval_s, self.proc = root, interval_s, proc
        self.samples: list[int] = []
        self.largest_process_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return max(self.samples, default=0)

    def _sample(self) -> None:
        stats = tree_stats(self.root, self.proc)
        self.samples.append(sum(s["rss_pages"] for s in stats) * PAGE_SIZE)
        self.largest_process_bytes = max(
            [self.largest_process_bytes] + [s["rss_pages"] * PAGE_SIZE for s in stats]
        )

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
