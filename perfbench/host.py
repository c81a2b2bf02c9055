"""Host fit: parallelism levels, driver memory, CPU pinning and RSS sampling.

Everything here reads the host it runs on; nothing assumes a CPU count
or a memory size.
"""

from __future__ import annotations

import os


class HostTooSmall(RuntimeError):
    """A parallelism level does not fit the CPUs this process may use."""


def levels(cpus: set[int] | frozenset[int]) -> tuple[list[int], list[int]]:
    """(hi, lo) CPU lists: ``hi`` is every CPU in the affinity set, ``lo``
    the first ``len(hi) // 4`` of them, so neither level can name a CPU
    outside the set. Raises :class:`HostTooSmall` when ``lo`` would be
    empty, because a quarter-size level that rounds to zero CPUs cannot
    be pinned."""
    hi = sorted(cpus)
    lo = hi[: len(hi) // 4]
    if not lo:
        raise HostTooSmall(
            f"{len(hi)} CPU(s) in the affinity set; the low level needs "
            f"len(hi) // 4 >= 1, so at least 4 CPUs"
        )
    return hi, lo


def mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_gb: float) -> str:
    """An eighth of RAM, between 1 and 4 GiB: the inputs are sized to fit
    that, and the host is shared."""
    return f"{max(1, min(4, int(total_gb / 8)))}g"


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pin_tree(pid: int, cpus: list[int]) -> int:
    """Pin every thread of ``pid`` and of its descendants to ``cpus`` with
    ``os.sched_setaffinity``. Threads started later inherit the mask of
    the thread that starts them; two passes catch threads created while
    the first pass ran. Returns the number of threads pinned."""
    n = 0
    for _ in range(2):
        n = 0
        for p in descendants(pid):
            try:
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                    n += 1
                except OSError:  # the thread exited meanwhile
                    pass
    return n


def tree_rss_mb(pid: int) -> float:
    """Summed resident set of ``pid`` and its descendants, in MiB."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024
