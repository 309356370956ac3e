"""Host and process-tree probes read from /proc (psutil is not
available): CPU time and peak memory summed over the driver's process
tree (driver, JVM, Python daemon, workers), host facts, and the
N-process calibration burn that shows multi-core steal next to every
result."""

from __future__ import annotations

import os
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict:
    """{pid: (ppid, cpu seconds incl. reaped children)} for every live
    process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while listing
            continue
        f = raw[raw.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(name)] = (int(f[1]), cpu)
    return out


def tree_pids(root: int | None = None, table: dict | None = None) -> list:
    root = os.getpid() if root is None else root
    table = _stat_table() if table is None else table
    children: dict = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree, including children
    it has already reaped (their time moves to the parent's cutime)."""
    table = _stat_table()
    return sum(table[p][1] for p in tree_pids(root, table) if p in table)


def tree_pss_mb(root: int | None = None) -> float:
    """Sum of Pss (resident memory, shared pages split between the
    processes sharing them) over the live process tree.  Forked Python
    workers share most of their pages with the daemon, so this counts
    them once instead of once per worker."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def reset_peaks(root: int | None = None) -> None:
    """Reset each live process's peak resident set (VmHWM) to its
    current size, so that the next read shows the peak since now."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:  # exited since listing
            continue


def tree_peak_mb(root: int | None = None) -> float:
    """Peak memory of the process tree since ``reset_peaks``: its Pss
    now, plus how far each process's resident set rose above its
    current size in between.  Memory a process allocated and freed
    again was its own, so it adds whole; Pss counts the pages forked
    workers share with the daemon once."""
    above_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                got = dict(line.split(":", 1) for line in fh)
            hwm, rss = (int(got[f].split()[0]) for f in ("VmHWM", "VmRSS"))
        except (OSError, KeyError):  # exited
            continue
        above_kb += max(0, hwm - rss)
    return tree_pss_mb(root) + above_kb / 1024.0


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "loadavg": load}


_BURN = """
import sys, time
def burn():
    x = 0.0
    for i in range(3_000_000):
        x += i * 1e-9
    return x
print("ready", flush=True)
sys.stdin.readline()
burn()  # a first pass wakes idle cores; the second is timed
t0 = time.perf_counter()
burn()
print(time.perf_counter() - t0)
"""


def calibrate(n: int) -> float:
    """Wall seconds of a fixed pure-Python burn run by n processes at
    once (the slowest of them), started together once every process is
    up.  On an idle host this equals the single-process burn time; more
    means cores are being taken by something else."""
    procs = [subprocess.Popen([sys.executable, "-c", _BURN],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              text=True) for _ in range(n)]
    for p in procs:
        p.stdout.readline()
    for p in procs:
        p.stdin.write("go\n")
        p.stdin.flush()
    return max(float(p.communicate()[0]) for p in procs)
