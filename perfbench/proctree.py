"""CPU seconds and peak memory of a process tree, read from /proc.

The tree is the benchmark's own process plus every descendant: the
Spark driver JVM, the Python worker daemon and its forked workers.
CPU is ``utime + stime + cutime + cstime`` summed over the live tree:
a worker that exited and was reaped by a live ancestor still counts,
through that ancestor's ``cutime``/``cstime``.  Memory is PSS
(proportional set size) summed over the live tree: a page shared
copy-on-write by the Python worker daemon and the workers it forked
counts once in total, where summed RSS would count it once per worker.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """-> (ppid, cpu_ticks) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after
    # its closing parenthesis
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(fields[i]) for i in (11, 12, 13, 14))


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> dict[int, int]:
    """{pid: cpu_ticks} of ``root`` and its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(_tree(root).values()) / _CLK


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in _tree(root)) / 1024


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (not ``root`` itself)."""
    return [pid for pid in _tree(root) if pid != root]


class TreeSampler:
    """One background thread sampling the tree's PSS at a fixed rate.

    ``reset()`` starts a window; ``peak_pss_mb()`` is the largest summed
    PSS seen since.  CPU is read exactly at window edges with
    ``tree_cpu_s`` instead, since CPU counters only grow.
    """

    # one sample of a tree holding the JVM takes ~40 ms of CPU (the
    # kernel walks every mapping for PSS): 2 Hz keeps the sampler under
    # a tenth of one core
    interval_s = 0.5

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="proctree-sampler")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self._sample()

    def _sample(self):
        pss = tree_pss_mb(self.root)
        with self._lock:
            self._peak = max(self._peak, pss)

    def reset(self):
        with self._lock:
            self._peak = 0.0
        self._sample()

    def peak_pss_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak
