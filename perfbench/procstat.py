"""Process-tree CPU and memory, and host steal, read from ``/proc``.

The engine runs as three kinds of process: this Python driver, the JVM
it launches, and the ``pyspark.daemon`` workers the JVM forks (where
``applyInPandasWithState`` folds run). CPU and RSS are summed over the
whole tree; reading the JVM pid alone misses the workers.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own cpu ticks, reaped-children cpu ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return comm, int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def descendants(root: int) -> dict[int, tuple[str, int, int, int]]:
    """Every live process under ``root`` (root included) with its stat."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    tree, frontier = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return tree


def cpu_split(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree under ``root``: the driver
    itself; the Python workers (``pyspark.daemon`` and its forks); and
    the JVM with every other process it started (the helpers Hadoop
    spawns).

    A process that exits is reaped by its parent, whose reaped-children
    count then carries its CPU, so two snapshots' difference counts
    every CPU second of the interval once."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    for pid, (comm, _, own, reaped) in descendants(root).items():
        if pid == root:
            out["driver"] += own / _CLK
        elif comm.startswith("python"):
            out["pyworkers"] += (own + reaped) / _CLK
        else:
            out["jvm"] += (own + reaped) / _CLK
    return out


def counters(root: int) -> dict[str, float]:
    """:func:`cpu_split` plus ``spawns``, the processes started on the
    host so far (``/proc/stat``): Hadoop's local file system shells out
    (``readlink``, ``stat``, ``chmod``) from the JVM, and each spawn
    from a JVM-sized process costs milliseconds."""
    with open("/proc/stat") as fh:
        spawns = next(int(ln.split()[1]) for ln in fh if ln.startswith("processes "))
    return {**cpu_split(root), "spawns": spawns}


def _field_kb(path: str, name: str) -> int:
    with open(path) as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith(name))


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree. The Python workers are forks of
    ``pyspark.daemon`` and share pages with it, so they count by
    proportional set size (shared pages once); the driver and the JVM
    share nothing with the rest and count by plain RSS, which is far
    cheaper to read for a JVM-sized address space."""
    total = 0
    tree = descendants(root)
    jvm_exe = {_exe(p) for p, st in tree.items() if st[1] == root and st[0] == "java"} - {None}
    for pid, (comm, ppid, *_rest) in tree.items():
        if ppid != root and _exe(pid) in jvm_exe:
            # a child the JVM is spawning, caught between vfork and exec:
            # it still runs the java binary and reports the JVM's memory
            continue
        try:
            if pid != root and comm.startswith("python"):
                total += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:") * 1024
            else:
                total += _field_kb(f"/proc/{pid}/status", "VmRSS:") * 1024
        except (OSError, StopIteration):
            pass  # exited between listing and reading
    return total


def steal_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return f[7], sum(f[:8])


class RssSampler:
    """Samples :func:`tree_rss_bytes` on a background thread and keeps
    the peak. Call :meth:`stop` (it joins the thread)."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0  # the sampler's own CPU time, a validity field
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
