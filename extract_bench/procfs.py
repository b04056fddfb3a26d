"""Process-tree and host counters read from ``/proc``.

* process tree = a root pid plus every descendant (driver python, the
  Spark JVM, the PySpark daemon and its forked workers);
* tree CPU includes ``cutime``/``cstime``, so workers reaped by the daemon
  during a pass still count; tree memory is summed PSS, which splits
  pages shared between processes among them;
* host counters come from the ``cpu`` line of ``/proc/stat``: busy time of
  every CPU of the machine and hypervisor steal, the noise that co-tenants
  on the same host cause.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised comm, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _ppids() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, starttime) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = (int(f[1]), int(f[19]))
    return out


def tree(root: int) -> dict[int, int]:
    """pid -> starttime for ``root`` and all its live descendants."""
    procs = _ppids()
    if root not in procs:
        return {}
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid][1]
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_pss_bytes(pids) -> int:
    """Summed proportional set size: resident pages, with a page shared by
    k processes (the PySpark daemon and the workers it forks) counted 1/k
    in each, so forking a worker does not count its parent twice."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def host_cpu() -> tuple[float, float]:
    """(busy seconds of all CPUs, steal seconds) since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


class TreeSampler(threading.Thread):
    """Samples a process tree's resident memory (PSS) until stopped; keeps
    the peak and every (pid, starttime) it saw, so leftovers can be found
    later."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_rss = 0
        self.seen: dict[int, int] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            procs = tree(self.root)
            self.seen.update(procs)
            self.peak_rss = max(self.peak_rss, tree_pss_bytes(procs))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def alive(seen: dict[int, int]) -> list[int]:
    """The pids of ``seen`` that still run (same pid *and* start time)."""
    out = []
    for pid, start in seen.items():
        f = _stat_fields(pid)
        if f is not None and int(f[19]) == start and f[0] != "Z":
            out.append(pid)
    return out
