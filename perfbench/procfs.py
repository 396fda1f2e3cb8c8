"""Process-tree CPU and peak memory, read from ``/proc``.

The benchmark's own Python process is the root of the tree: PySpark
launches the driver JVM as its child, and the JVM forks the Python worker
daemon and its Arrow workers.  ``psutil`` is not assumed to be installed.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lp, rp = raw.index("("), raw.rindex(")")
    return raw[lp + 1 : rp], raw[rp + 2 :].split()


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """``{pid: (comm, stat fields after comm)}`` for ``root`` and every
    descendant."""
    stats: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds so far of the tree, split into the Python driver (the
    root), the JVM and the Python workers.  Each process counts its own
    time plus that of the children it has reaped (cutime/cstime), so a
    worker that exits moves its time into its parent's bucket instead of
    vanishing from the sum."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, (comm, f) in tree(root).items():
        # fields after comm: state=0, ppid=1, ..., utime=11 stime=12
        # cutime=13 cstime=14
        secs = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
        if pid == root:
            out["driver"] += secs
        elif comm == "java":
            out["jvm"] += secs
        else:
            out["workers"] += secs
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, busy + steal) CPU ticks of the whole machine so far, from
    /proc/stat.  Steal is time a vCPU wanted to run while the hypervisor
    ran another guest; idle ticks are left out, since an idle vCPU loses
    nothing to steal."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal ...
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two
    :func:`steal_ticks` readings that the hypervisor withheld."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def peak_rss(root: int) -> dict[int, tuple[str, float]]:
    """``{pid: (comm, peak resident MB)}`` (VmHWM) over the tree."""
    out = {}
    for pid, (comm, _) in tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = (comm, int(line.split()[1]) / 1024.0)
                        break
        except OSError:
            continue
    return out
