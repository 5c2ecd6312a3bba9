"""Host-side probes read from ``/proc`` (psutil is not available).

Three things per sample: the CPU the benchmark's own process tree used,
the CPU everything else on the host used in the same interval (steal
included separately), and the resident memory of the tree. A sample
whose foreign CPU or steal exceeds a share of the host's capacity is
marked contended; its timing is still reported, with the mark beside it.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

#: share of the host's CPU capacity over a sample that, when used by
#: processes outside the benchmark's tree (or stolen by the hypervisor),
#: marks the sample contended
CONTENDED_FOREIGN_SHARE = 0.10
CONTENDED_STEAL_SHARE = 0.05


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _all_stats() -> dict[int, list[str]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _read_stat(int(name))
            if fields is not None:
                stats[int(name)] = fields
    return stats


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (JVM, Python daemon and workers)."""
    return _tree(root, _all_stats())


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _read_stat(pid)
        if fields is not None:
            # utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def shares_parent_memory(fields: list[str], parent: list[str] | None) -> bool:
    """True for a child that still runs in its parent's address space:
    the JVM starts each helper process (``chmod``, ``jspawnhelper``)
    through ``posix_spawn``, whose child shows the JVM's whole RSS until
    it execs. Same address space, same counters: vsize (field 23) and
    rss (field 24) are equal."""
    return parent is not None and fields[20:22] == parent[20:22]


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, each address space counted once."""
    stats = _all_stats()
    kb = 0
    for pid in _tree(root, stats):
        fields = stats.get(pid)
        if fields is not None and not (
            pid != root and shares_parent_memory(fields, stats.get(int(fields[1])))
        ):
            kb += int(fields[21]) * PAGE_KB  # rss in pages (field 24)
    return kb / 1024.0


def host_cpu() -> tuple[float, float]:
    """(busy seconds, steal seconds) summed over all host CPUs."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    user, nice, system, idle, iowait, irq, softirq, steal = (
        int(x) for x in parts[:8]
    )
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


@dataclass
class HostSample:
    wall_s: float
    own_cpu_s: float
    foreign_cpu_s: float
    steal_s: float
    loadavg: float
    contended: bool

    def as_dict(self) -> dict:
        return {
            "wall_s": self.wall_s,
            "own_cpu_s": round(self.own_cpu_s, 3),
            "foreign_cpu_s": round(self.foreign_cpu_s, 3),
            "steal_s": round(self.steal_s, 3),
            "loadavg": self.loadavg,
            "contended": self.contended,
        }


class Interval:
    """Start with :meth:`start`, close with :meth:`stop` → :class:`HostSample`."""

    def __init__(self):
        self.root = os.getpid()
        self.cores = cores()

    def start(self) -> Interval:
        self._own0 = tree_cpu_s(self.root)
        self._busy0, self._steal0 = host_cpu()
        return self

    def stop(self, wall_s: float) -> HostSample:
        busy1, steal1 = host_cpu()
        own = tree_cpu_s(self.root) - self._own0
        return classify(
            wall_s,
            own,
            busy1 - self._busy0,
            steal1 - self._steal0,
            os.getloadavg()[0],
            self.cores,
        )


def classify(
    wall_s: float,
    own_cpu_s: float,
    host_busy_s: float,
    steal_s: float,
    loadavg: float,
    n_cores: int,
) -> HostSample:
    capacity = max(wall_s, 1e-9) * n_cores
    foreign = max(0.0, host_busy_s - own_cpu_s)
    contended = (
        foreign > CONTENDED_FOREIGN_SHARE * capacity
        or steal_s > CONTENDED_STEAL_SHARE * capacity
    )
    return HostSample(wall_s, own_cpu_s, foreign, steal_s, loadavg, contended)


class RssSampler:
    """Background thread polling the tree's RSS; ``peak_mb`` after stop."""

    period_s = 0.2

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
