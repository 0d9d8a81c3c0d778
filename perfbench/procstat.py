"""Process-tree CPU and memory from /proc, and placement evidence.

The benchmark's process tree is the driver Python process, the JVM it
launches, and the JVM's Python worker daemon and workers.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """user+sys CPU of the tree, including reaped children of its members
    (cutime/cstime), so workers that exited still count."""
    total = 0
    for pid in tree() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def peak_rss(pids: list[int] | None = None) -> dict[str, int]:
    """Peak resident set (VmHWM, bytes) of each live process in the tree,
    keyed "<pid> <command name>"."""
    out = {}
    for pid in tree() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{pid} {comm}"] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


# --- placement -----------------------------------------------------------------
# The host is a VM: other tenants' load shows only as steal time and as a
# lower busy-loop speedup. Each record carries both so a reader can judge
# how much of a wall time is the engine and how much the placement.

BURN_S = 0.2


def _burn(_=None) -> int:
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < BURN_S:
        x += 1
    return x


def busy_ceiling(n: int) -> float:
    """Speedup of n busy-looping processes over one (n on an idle host)."""
    one = _burn()
    # fork, not spawn: the n loops must start together, and the children
    # only spin and return a count (run before the JVM starts and after
    # it has stopped)
    ctx = mp.get_context("fork")
    with ctx.Pool(n) as pool:
        total = sum(pool.map(_burn, range(n)))
        pool.close()
        pool.join()
    return round(total / one, 3)


def proc_stat() -> dict[str, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"], v))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Steal as a share of the vCPU time that wanted to run between two
    samples. An idle vCPU accrues no steal, so this is the share of its
    runnable time the process tree lost to the neighbours, and a wall
    time w would have been about w * (1 - share) on an unshared host."""
    d = {k: after[k] - before[k] for k in before}
    busy = d["user"] + d["nice"] + d["system"] + d["steal"]
    return d["steal"] / busy if busy else 0.0


def steal_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    return {
        "steal_jiffies": after["steal"] - before["steal"],
        "steal_pct_of_busy": round(100.0 * steal_share(before, after), 2),
    }
