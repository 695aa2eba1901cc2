"""Process-tree accounting from ``/proc``: CPU, memory and host counters.

The benchmark process owns a tree: this Python driver, the JVM it
launches, the JVM's Python worker daemon and the workers it forks.
Counting CPU over that tree has one trap: a process that exits and is
reaped disappears from ``/proc``, and its CPU survives only in its
parent's ``cutime``/``cstime``. Summing ``utime + stime`` of live
processes therefore undercounts every short-lived worker; this module
adds the children fields of every live process, so reaped descendants
stay counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds including reaped children) or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), cpu


def snapshot_tree(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    """pid -> (comm, ppid, cpu_s) for ``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                procs[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds used by ``root``'s tree, reaped descendants included."""
    return sum(cpu for _, _, cpu in snapshot_tree(root).values())


def python_workers(tree: dict[int, tuple[str, int, float]], jvm_pid: int | None) -> dict[int, float]:
    """pid -> cpu_s of the Python processes below the JVM (the worker
    daemon and its forked workers)."""
    if jvm_pid is None:
        return {}
    below = set()
    for pid in tree:
        p = pid
        while p in tree and p != jvm_pid:
            p = tree[p][1]
        if p == jvm_pid and pid != jvm_pid:
            below.add(pid)
    return {pid: tree[pid][2] for pid in below if tree[pid][0].startswith("python")}


def resident_bytes(pids) -> int:
    """Summed proportional set size: resident pages, with a page shared by
    n processes counted 1/n in each. Forked Python workers share most of
    their pages with the worker daemon, so summing plain RSS would count
    those pages once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def host_cpu_ticks() -> dict[str, int]:
    """Host-wide busy and steal ticks from the ``cpu`` line of /proc/stat.
    Steal (time the hypervisor ran someone else) is not busy time here."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (f + [0] * 8)[:8]
    return {"busy": user + nice + system + irq + softirq, "steal": steal}


def ticks_to_seconds(ticks: int) -> float:
    return ticks / _TICK


class Sampler:
    """Background sampler of the tree's memory and of the Python worker
    pids seen. Memory is kept as two peaks: the JVM's used heap
    (``heap_used()``, bytes; in local mode the executors and their cached
    blocks live there) and the summed PSS of every other process in the
    tree, i.e. the Python driver and workers. ``take_peaks()`` returns
    both and starts them again; ``worker_pids()`` is every worker seen."""

    def __init__(self, jvm_pid: int | None, heap_used=lambda: 0, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.heap_used = heap_used
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-sampler", daemon=True)
        self._peaks = (0, 0)
        self._workers: set[int] = set()

    def _sample(self) -> None:
        tree = snapshot_tree()
        python = resident_bytes(p for p in tree if p != self.jvm_pid)
        heap = self.heap_used()
        workers = python_workers(tree, self.jvm_pid)
        with self._lock:
            self._peaks = (max(self._peaks[0], heap), max(self._peaks[1], python))
            self._workers.update(workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def take_peaks(self) -> tuple[int, int]:
        """(peak used heap, peak Python PSS) in bytes since the last call."""
        self._sample()
        with self._lock:
            peaks, self._peaks = self._peaks, (0, 0)
        return peaks

    def worker_pids(self) -> set[int]:
        self._sample()
        with self._lock:
            return set(self._workers)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
