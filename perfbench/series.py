#!/usr/bin/env python3
"""Run the benchmark over many seeds and summarize the results.

    python3 perfbench/series.py --seeds 1-10 --sets 2 --out runs.jsonl
    python3 perfbench/series.py --summarize runs.jsonl

Each run is one ``perfbench/run.py`` process with the ``run_seconds``
of ``BENCHMARK.json``.  For every seed, each of ``--sets`` sets runs
every workload once, so the sets are interleaved and see the same
drift of the host; every result line is appended to ``--out`` as
``{"workload", "seed", "set", "trace", "elapsed_s", "result"}``.

The summary gives, per workload, set and metric, the median, the
quartiles (Python's ``statistics.quantiles(n=4)``) and the spread
(interquartile range over median), and per workload and metric the
change of each set's median against the first set's, as a share of
the first.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_series(workloads, seeds, sets: int, trace: int, out: str):
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    for seed in seeds:
        for s in range(sets):
            for wl in workloads:
                t0 = time.monotonic()
                proc = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", wl,
                     "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", str(trace)],
                    stdout=subprocess.PIPE, text=True, check=False)
                lines = proc.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if proc.returncode == 0 \
                    and lines else None
                rec = {"workload": wl, "seed": seed, "set": s,
                       "trace": trace, "elapsed_s": time.monotonic() - t0,
                       "result": result}
                with open(out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(json.dumps(rec), flush=True)


def _stats(vs: list[float]) -> dict:
    med = statistics.median(vs)
    q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 \
        else (vs[0], None, vs[0])
    return {"n": len(vs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarize(paths) -> dict:
    values: dict[str, dict[int, dict[str, list[float]]]] = {}
    bad = 0
    for path in paths:
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                res = rec["result"]
                if res is None or not res["correct"] or res["failed"]:
                    bad += 1
                    continue
                per = values.setdefault(rec["workload"], {}) \
                    .setdefault(rec.get("set", 0), {})
                for k, m in res["metrics"].items():
                    per.setdefault(k, []).append(m["value"])
    out = {"incorrect_or_failed_runs": bad, "workloads": {}}
    for wl, sets in sorted(values.items()):
        table = {f"set{s}": {k: _stats(vs) for k, vs in per.items()}
                 for s, per in sorted(sets.items())}
        first = table[min(table)]
        table["median_change_vs_set0"] = {
            k: {name: t[k]["median"] / first[k]["median"] - 1
                for name, t in table.items() if name.startswith("set")}
            for k in first if first[k]["median"]}
        out["workloads"][wl] = table
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=["kg_build", "link_wide"])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--summarize", nargs="+", metavar="JSONL")
    args = ap.parse_args()
    if args.summarize:
        print(json.dumps(summarize(args.summarize), indent=1))
    elif args.out:
        run_series(args.workloads, args.seeds, args.sets, args.trace,
                   args.out)
    else:
        ap.error("give --out to run a series or --summarize to read one")


if __name__ == "__main__":
    main()
