#!/usr/bin/env python3
"""CPU of one cold perfbench operation, by process and by JVM thread.

    python3 scripts/cpu_breakdown.py --workload kg_build --seed 7

Run from the repository root.  The session, set-up and operation are
perfbench's own (``perfbench/run.py``'s session settings and
``perfbench/workloads.py``'s workloads, imported unchanged): a fresh
session, the canary check, the seeded input prepared ``SETUP_REPS``
times, then the first operation of the session, cold, checked as the
benchmark checks it.  Around that operation the script reads
``/proc`` and prints the CPU seconds the operation cost:

- by process: the driver JVM, the Python workers (the worker daemon,
  its forked workers, and any the JVM reaped), and this Python driver
  (which includes the thread sampler's own reads of ``/proc``);
- by JVM thread class, from each thread's name: C2 and C1 compiler
  threads, executor task threads, py4j ``Thread-N`` threads (the
  driver-side planning the Python driver asks for), GC threads, the
  rest, and ``unsampled``: CPU of threads that exited between two
  samples of the background thread sampler (0.2 s apart), which the
  process total still holds.

The benchmark's ``cpu_s`` is the sum over the process tree; this
splits the same quantity, so the JIT compilers' share, which no
Spark metric shows, can be read off.  The last line of stdout is
the breakdown as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
_CLK = os.sysconf("SC_CLK_TCK")

# (class, pattern on the thread's kernel name, which HotSpot truncates
# to 15 characters); the first match wins
THREAD_CLASSES = (
    ("c2", re.compile(r"C2 CompilerThre")),
    ("c1", re.compile(r"C1 CompilerThre")),
    ("executor_task", re.compile(r"Executor task l")),
    ("py4j", re.compile(r"Thread-\d+")),
    ("gc", re.compile(r"GC Thread|G1 ")),
)


def _stat_fields(path: str) -> list[bytes] | None:
    """Fields of a /proc stat file after the command name, or None if
    the process or thread is gone."""
    try:
        with open(path, "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2:].split()


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def processes(root: int) -> dict[int, tuple[str, int, int]]:
    """{pid: (comm, own ticks, reaped children's ticks)} of ``root``
    and its live descendants."""
    children, stats = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(f"/proc/{name}/stat")
            if f is not None:
                pid = int(name)
                children.setdefault(int(f[1]), []).append(pid)
                stats[pid] = (int(f[11]) + int(f[12]),
                              int(f[13]) + int(f[14]))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = (_comm(f"/proc/{pid}/comm"), *stats[pid])
        todo.extend(children.get(pid, ()))
    return tree


def threads(pid: int) -> dict[int, tuple[str, int]]:
    """{tid: (thread name, ticks)} of the live threads of ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        f = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if f is not None:
            out[int(tid)] = (_comm(f"/proc/{pid}/task/{tid}/comm"),
                             int(f[11]) + int(f[12]))
    return out


def thread_class(name: str) -> str:
    for cls, pattern in THREAD_CLASSES:
        if pattern.match(name):
            return cls
    return "other"


class JvmThreads:
    """CPU ticks of each JVM thread, read at the start and then every
    ``interval_s`` in the background: HotSpot starts and stops compiler
    threads with the compile load, so a thread that exits during the
    operation keeps the ticks of its last sample."""

    interval_s = 0.2

    def __init__(self, pid: int):
        self.pid = pid
        self.start = threads(pid)
        self.seen = dict(self.start)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="cpu-breakdown-sampler")
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.seen.update(threads(self.pid))

    def stop(self) -> dict[str, int]:
        """-> {thread class: ticks since the start}."""
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("thread sampler did not stop")
        self.seen.update(threads(self.pid))
        by_class = dict.fromkeys([c for c, _ in THREAD_CLASSES]
                                 + ["other"], 0)
        for tid, (name, ticks) in self.seen.items():
            by_class[thread_class(name)] += \
                ticks - self.start.get(tid, (name, 0))[1]
        return by_class


def jvm_pid(procs: dict) -> int:
    jvms = [p for p, (comm, _, _) in procs.items() if comm == "java"]
    if len(jvms) != 1:
        raise RuntimeError(f"expected one driver JVM, found {jvms}")
    return jvms[0]


def breakdown(before: dict, after: dict, by_class: dict,
              root: int) -> dict:
    """CPU seconds spent between two process snapshots, by process and
    by JVM thread class."""
    def delta(pid, i):
        return after[pid][i] - before.get(pid, (0, 0, 0))[i]

    jvm_id = jvm_pid(after)
    driver = delta(root, 1) + delta(root, 2)
    jvm = delta(jvm_id, 1)
    # the JVM reaps the Python worker daemon; the daemon reaps workers
    workers = delta(jvm_id, 2) + sum(
        delta(pid, 1) + delta(pid, 2) for pid in after
        if pid not in (root, jvm_id))
    # threads that exited before their first sample, or CPU a thread
    # used after its last one
    by_class = {**by_class, "unsampled": jvm - sum(by_class.values())}
    return {"total_s": (driver + jvm + workers) / _CLK,
            "process_s": {"jvm": jvm / _CLK,
                          "python_workers": workers / _CLK,
                          "driver": driver / _CLK},
            "jvm_thread_s": {k: v / _CLK for k, v in by_class.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, PERFBENCH)
    from run import SETUP_REPS, start_session, stop_jvm_and_children
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = os.path.abspath(
        f".perfbench_work/cpu_breakdown-{wl.name}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    me = os.getpid()
    try:
        spark = start_session(work)
        problems = wl.canary(spark, work)
        for k in range(SETUP_REPS):
            wl.prepare(spark, f"{work}/input{k}", args.seed)
        before = processes(me)
        sampler = JvmThreads(jvm_pid(before))
        t0 = time.monotonic()
        wl.op(spark, f"{work}/op")
        wall = time.monotonic() - t0
        by_class = sampler.stop()
        after = processes(me)
        problems += wl.check(spark, f"{work}/op")
    finally:
        stop_jvm_and_children()
        shutil.rmtree(work, ignore_errors=True)

    out = breakdown(before, after, by_class, me)
    out.update(workload=wl.name, seed=args.seed, wall_s=wall,
               correct=not problems)
    print(f"{wl.name} seed {args.seed}: cold op wall {wall:.1f} s, "
          f"CPU {out['total_s']:.1f} s")
    for group in ("process_s", "jvm_thread_s"):
        print(f"  {group[:-2]}:")
        for k, v in sorted(out[group].items(), key=lambda kv: -kv[1]):
            print(f"    {k:16s} {v:7.2f} s")
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)
    print(json.dumps(out))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
