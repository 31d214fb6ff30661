#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root.  A run starts one Spark session on
``local[2]`` (two task threads, so the Python workers, the JIT and the
collector still find a free core of a four-core host), then sets up
(``setup_s``): it checks the fingerprint of a fixed-seed canary input
(see workloads.py), and generates the workload's input from ``--seed``
and materializes it ``SETUP_REPS`` times, counting the median of
those.  It then runs operations back to back, one at a time, until
``--seconds`` have passed (at least one), and checks each one's
output.  The first operation runs cold, as a batch job does: the
product's entry point is run once per fresh session, so its users pay
for the JIT and the Python worker start-up on every run.  Every
operation takes longer than the one second ``BENCHMARK.json`` asks
for, so each run times exactly that cold one.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` and medians
over the timed operations of ``cpu_s`` and ``peak_pss_mb`` (CPU time
and proportional set size of the whole process tree: this process, the
JVM and the Python workers).  The operations' wall time goes to stderr
and into the traced run's table, not into the result: on a shared host
it moves with the neighbours' load, CPU time much less.

``--trace 1`` turns Spark's event log on for the whole session, sets
up the same way, runs one operation to warm up, one without spans and
then one with a span per stage, and prints the per-layer metrics folded
from the log (see spantrace.py).  ``trace.overhead_s`` is the spanned
operation's wall time minus the unspanned one's.  On ``kg_build`` a
pass of extraction alone under the Python UDF profiler then reports
where worker time goes, as shares; on ``link_wide`` the headline
curation queries follow the spanned operation, one span per query.

Scratch files live under ``.perfbench_work/`` in the current
directory and are removed at exit.  ``.perfbench_out/`` keeps the
folded per-layer table of each traced run and the stage row counts of
each seed, which every later run of the seed must reproduce.  The last
line of stdout is the result; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 2
# the seeded input is generated and materialized this many times in
# set-up; setup_s counts the median of these
SETUP_REPS = 3


def log(*args):
    print(*args, file=sys.stderr, flush=True)


def start_session(work: str, extra: dict | None = None):
    from ollie_spark.spark.session import build_session

    # the heap starts at its 2g maximum, so peak memory does not depend on
    # when the collector chose to grow it; scratch and temp files stay
    # inside the work directory
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g",
        **(extra or {}),
    }
    spark = build_session("perfbench", master=f"local[{CORES}]",
                          shuffle_partitions=max(8, CORES),
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm_and_children():
    """Stop the session, the py4j gateway JVM, and wait for every child
    process to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import proctree

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate to kill
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := proctree.descendants(os.getpid())):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def timed_ops(spark, wl, work: str, seconds: float, sampler):
    """Closed loop of operations for ``seconds`` (at least one)
    -> (per-op measurements, problems, failed count)."""
    import proctree

    ops, problems, failed = [], [], 0
    t_end = time.monotonic() + seconds
    i = 0
    while i == 0 or time.monotonic() < t_end:
        root = f"{work}/op{i}"
        sampler.reset()
        cpu0 = proctree.tree_cpu_s(os.getpid())
        t0 = time.monotonic()
        try:
            wl.op(spark, root)
            wall = time.monotonic() - t0
            cpu = proctree.tree_cpu_s(os.getpid()) - cpu0
            peak = sampler.peak_pss_mb()
            bad = wl.check(spark, root)
        except Exception:  # noqa: BLE001 — a raising op counts as failed
            log(traceback.format_exc())
            bad = ["operation raised"]
        if bad:
            failed += 1
            problems += bad
        else:
            ops.append({"wall_s": wall, "cpu_s": cpu, "peak_pss_mb": peak})
            quality = json.dumps(getattr(wl, "quality", {}))
            log(f"op {i}: wall {wall:.3f}s cpu {cpu:.2f}s "
                f"peak {peak:.0f}MB {quality}")
        shutil.rmtree(root, ignore_errors=True)
        i += 1
    return ops, problems, failed


def traced_run(spark, wl, work: str, untraced_wall: float, seed: int):
    """One operation with spans in the event-logged session, folded
    -> (per-layer metrics, problems)."""
    import spantrace
    from workloads import RECORDS, per_layer_names

    spans = spantrace.Spans(spark.sparkContext)
    root = f"{work}/traced"
    problems = wl.traced_op(spark, spans, root)
    rows_out = wl.rows_out(spark, root)
    shares = wl.profile_udf(spark, f"{work}/profile") \
        if hasattr(wl, "profile_udf") else {}
    # the log is complete once the session has stopped
    spark.stop()
    table = spantrace.fold(spantrace.read_event_log(f"{work}/eventlog"),
                           spans)
    for name, rows in rows_out.items():
        table[name]["rows_out"] = rows
    traced_wall = spans.wall_s(wl.spans)
    summary = {
        "wall_s": traced_wall,
        "untraced_wall_s": untraced_wall,
        "overhead_s": traced_wall - untraced_wall,
        "unspanned_s": traced_wall - sum(table[s]["wall_s"]
                                         for s in wl.spans),
    }
    os.makedirs(RECORDS, exist_ok=True)
    with open(f"{RECORDS}/trace-{wl.name}-seed{seed}.json", "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "spans": table,
                   "udf_shares": shares, "trace": summary},
                  f, indent=1)

    metrics = {}
    for name in per_layer_names():
        span, metric = name.rsplit(".", 1)
        if span == "trace":
            metrics[name] = summary[metric]
        elif span == "extract.udf":
            metrics[name] = shares.get(metric, 0.0)
        else:
            metrics[name] = table.get(span, {}).get(metric, 0)
    return metrics, problems


def unit_of(metric: str) -> str:
    """Unit of a metric, from its name."""
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_share") or leaf == "task_skew":
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test lives at the checkout root
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import ollie_spark  # noqa: F401 — fail fast without the program

    import proctree
    import spantrace
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    work = os.path.abspath(
        f".perfbench_work/{wl.name}-{args.seed}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    try:
        with proctree.TreeSampler() as sampler:
            conf = None
            if args.trace:
                os.makedirs(f"{work}/eventlog")
                conf = spantrace.event_log_conf(f"{work}/eventlog")
            t0 = time.monotonic()
            spark = start_session(work, conf)
            problems = wl.canary(spark, work)
            prepare_s = []
            for k in range(SETUP_REPS):
                t1 = time.monotonic()
                wl.prepare(spark, f"{work}/input{k}", args.seed)
                prepare_s.append(time.monotonic() - t1)
            # the inputs were set up SETUP_REPS times; count one
            setup_s = time.monotonic() - t0 - sum(prepare_s) \
                + statistics.median(prepare_s)
            log(f"setup {setup_s:.2f}s (inputs "
                f"{' '.join(f'{t:.2f}' for t in prepare_s)}s)")
            attempted = failed = 0
            if args.trace:
                # the spanned operation runs warm, so the unspanned one
                # it is compared with must too
                warm, bad, failed = timed_ops(spark, wl, work, 0, sampler)
                problems += bad
                attempted = len(warm) + failed
            seconds = 0 if args.trace else args.seconds
            ops, bad, failed_ops = timed_ops(spark, wl, work, seconds,
                                             sampler)
            problems += bad
            failed += failed_ops
            attempted += len(ops) + failed_ops
            if not ops:
                raise RuntimeError("no operation succeeded")
            med = {k: statistics.median(o[k] for o in ops)
                   for k in ("wall_s", "cpu_s", "peak_pss_mb")}
            if args.trace:
                metrics, bad = traced_run(spark, wl, work, med["wall_s"],
                                          args.seed)
                attempted += 1
                failed += bool(bad)
                problems += bad
            else:
                log(f"wall {med['wall_s']:.3f}s, "
                    f"{wl.items / med['wall_s']:.1f} items/s")
                metrics = {"setup_s": setup_s, "cpu_s": med["cpu_s"],
                           "peak_pss_mb": med["peak_pss_mb"]}
    finally:
        stop_jvm_and_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".perfbench_work")
        except OSError:
            pass
    for p in problems:
        log("CHECK FAILED:", p)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
