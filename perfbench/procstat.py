"""CPU time and memory of a process tree, and host load, from /proc.

The engine's process tree is the benchmark's own process and every
descendant (the JVM and the Python workers it forks), minus the subtrees
of excluded processes such as the mock endpoint. CPU time includes the
``cutime``/``cstime`` of each live member, so a worker that exits and is
reaped inside the tree keeps counting.
"""

from __future__ import annotations

import os
import threading

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


class ProcessTree:
    """The live members of the tree rooted at ``root``."""

    def __init__(self, root: int | None = None, exclude: tuple[int, ...] = ()):
        self.root = root or os.getpid()
        self.exclude = set(exclude)

    def members(self) -> dict[int, list[str]]:
        stats = _all_stats()
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """user+sys seconds of the tree, reaped children included."""
        ticks = sum(sum(int(x) for x in st[11:15]) for st in self.members().values())
        return ticks / CLK

    def rss_mb(self) -> float:
        return sum(self.rss_by_pid().values())

    def rss_by_pid(self) -> dict[int, float]:
        return {pid: int(st[21]) * PAGE / 2**20 for pid, st in self.members().items()}

    def count(self, cmd_substring: str) -> int:
        """Members whose command line contains ``cmd_substring``."""
        n = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    n += cmd_substring.encode() in f.read()
            except OSError:
                pass
        return n


def host_busy_s() -> float:
    """Busy CPU seconds of the whole host since boot (all cores)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]  # idle + iowait
    return (sum(v[:8]) - idle) / CLK


def n_cpus() -> int:
    return os.cpu_count() or 1


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak_mb`` is the
    largest sample between ``start`` and ``stop``."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.2):
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples: list[float] = []
        self.at_peak: dict[str, float] = {}  # command -> MB at the peak
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        by_pid = self.tree.rss_by_pid()
        total = sum(by_pid.values())
        self.samples.append(total)
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = {}
            for pid, mb in by_pid.items():
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        cmd = f.read().split(b"\0")
                except OSError:
                    continue
                name = " ".join(os.path.basename(c.decode(errors="replace")) for c in cmd[:3])
                self.at_peak[name] = self.at_peak.get(name, 0.0) + mb

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb
