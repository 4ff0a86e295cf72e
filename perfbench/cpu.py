"""CPU time of the benchmark's process tree.

On a shared virtual machine the hypervisor can take a large and
changing share of the CPU (40-70% measured while the benchmark ran on a
4-core host), so wall-clock times swing between runs of the same code.
The CPU time the kernel charges to processes leaves out that stolen
time: it counts the work the program did, whatever the host's load.
"""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` (default: this process)
    and every live process below it: here the Spark driver JVM and its
    Python workers."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after the ")" that closes the command name:
                # state ppid ... utime(11) stime(12)
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(f[1])
        ticks[pid] = int(f[11]) + int(f[12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total * TICK_S
