"""Per-layer trace, recorded from outside the program.

Each call into a layer runs inside ``Spans.span(name)``, which tags
every Spark job the call starts with the job group ``name`` and
records the call's wall-clock interval.  The session writes Spark's
own event log; ``fold`` reads it back and sums the task metrics of
each job group, so the program needs no timers of its own.

Per span:

- ``wall_s``: the call's wall time;
- ``driver_s``: the part of ``wall_s`` no Spark job of the span
  covered (driver-side planning, collects, local union-find);
- ``jobs``, ``tasks``;
- ``executor_run_s``, ``executor_cpu_s``, ``gc_s``: summed over
  tasks.  Executor CPU is JVM thread time; time spent in Python
  workers shows in ``executor_run_s`` only;
- ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb`` (disk);
- ``task_skew``: max over median task run time, in the stage of the
  span with the most task time.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager, nullcontext

SPAN_METRICS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "task_skew", "rows_out")
_MB = 2 ** 20


def event_log_conf(log_dir: str) -> dict:
    """One plain JSON-lines file: Spark 4 defaults to compressed,
    rolling (directory-per-application) logs."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Spans:
    """Wall-clock intervals of named calls, each call's Spark jobs
    tagged with the call's name as their job group."""

    def __init__(self, sc):
        self.sc = sc
        self.intervals: dict[str, tuple[float, float]] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.intervals[name] = (t0, time.time())
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wall_s(self, names) -> float:
        """From the first start to the last end of the named spans."""
        starts, ends = zip(*(self.intervals[n] for n in names))
        return max(ends) - min(starts)


class _Untraced:
    """``Spans`` stand-in that records nothing."""

    @staticmethod
    def span(name: str):
        return nullcontext()


UNTRACED = _Untraced()


def _covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Job, stage and task-end events of the one log in ``log_dir``."""
    (path,) = glob.glob(f"{log_dir}/*")
    keep = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"',
            '"SparkListenerStageSubmitted"', '"SparkListenerTaskEnd"')
    out = []
    with open(path) as f:
        for line in f:
            if any(k in line[:64] for k in keep):
                out.append(json.loads(line))
    return out


def fold(events: list[dict], spans: Spans) -> dict[str, dict]:
    """-> {span: {metric: value}} for every span in ``spans``."""
    job_group, job_start, job_end, stage_group = {}, {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = group
            job_start[e["Job ID"]] = e["Submission Time"] / 1000
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = group

    out = {}
    for name, (lo, hi) in spans.intervals.items():
        jobs = [j for j, g in job_group.items() if g == name]
        intervals = [(job_start[j], job_end.get(j, hi)) for j in jobs]
        out[name] = {
            "wall_s": hi - lo,
            "driver_s": (hi - lo) - _covered_s(intervals, lo, hi),
            "jobs": len(jobs), "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0,
            "rows_out": 0,
        }
    stage_runs: dict[int, list[float]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        m = out.get(stage_group.get(e["Stage ID"]))
        tm = e.get("Task Metrics")
        if m is None or tm is None:
            continue
        run_s = tm["Executor Run Time"] / 1000
        m["tasks"] += 1
        m["executor_run_s"] += run_s
        m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
        m["gc_s"] += tm["JVM GC Time"] / 1000
        sr = tm.get("Shuffle Read Metrics", {})
        m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / _MB
        m["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0) / _MB
        m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
        stage_runs.setdefault(e["Stage ID"], []).append(run_s)

    for name, m in out.items():
        stages = [runs for sid, runs in stage_runs.items()
                  if stage_group.get(sid) == name]
        if stages:
            runs = max(stages, key=sum)
            med = statistics.median(runs)
            m["task_skew"] = max(runs) / med if med > 0 else 1.0
    return out


def udf_shares(stats) -> dict[str, float]:
    """Shares of profiled Python worker time of the extraction UDF:
    parsing (``synth.parse_text``), pattern matching and everything
    below ``Ollie.extract``, pandas/Arrow assembly of the batches in and
    out, and the rest.  Shares only: the profiler inflates seconds."""
    total = sum(v[2] for v in stats.stats.values())
    if total <= 0:
        return {}

    def ct(file: str, func: str, caller_file: str | None = None) -> float:
        """Cumulative time of ``file:func``, counting only calls made
        from ``caller_file`` when given."""
        acc = 0.0
        for (f, _, fn), (_, _, _, cum, callers) in stats.stats.items():
            if f == file and fn == func:
                acc += cum if caller_file is None else sum(
                    c[3] for (cf, _, _), c in callers.items()
                    if cf == caller_file)
        return acc

    parse = ct("synth.py", "parse_text")
    match = ct("ollie.py", "extract")
    # assembly: column accumulation, the pandas frames the UDF builds
    # from it, and the Arrow -> pandas batches it iterates over
    assembly = (ct("pipeline.py", "emit")
                + ct("frame.py", "__init__", caller_file="pipeline.py")
                + ct("serializers.py", "load_stream"))
    other = max(total - parse - match - assembly, 0.0)
    return {"parse_share": parse / total, "match_share": match / total,
            "assembly_share": assembly / total,
            "other_share": other / total}
