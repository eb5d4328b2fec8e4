#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a results file (`<workload>.jsonl`, one run per line,
as run.py appends them under .bench_build/perfbench/results/) or a
directory of such files. Only runs at the workload's own scale count
(`--smoke` runs are left out); end-to-end metrics come from untraced runs
and per-layer metrics from traced runs. For every (workload, metric)
pair the tool prints both medians, both quartile ranges and a verdict.
Counters (jobs, stages, tasks, shuffle and scan volume, interpreted
expressions, store epochs and files) come first and are compared as
counts: equal medians read `same`. Timings and the other measured values
come second and are judged against the metric's bound in BENCHMARK.json
when it has one. Exit status is 1 when an end-to-end metric regressed
beyond its bound, else 0.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import SCALE  # noqa: E402

COUNTERS = ("exec.jobs", "exec.stages", "exec.tasks", "operators.construct_jobs",
            "operators.cc_jobs", "operators.bpe_jobs", "operators.quantile_jobs",
            "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
            "shuffle.peak_stage_mb", "functions.codegen_fallback_exprs",
            "sources.scan_rows", "sources.scan_mb",
            "sources.rows_scanned_per_row_out", "store.epoch",
            "store.live_files", "store.disk_mb")


def load(path, end_to_end):
    """(workload, metric) -> values: end-to-end metrics of untraced runs,
    the others of traced runs, all at the workload's scale."""
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) \
        if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        for line in open(f):
            if not line.strip():
                continue
            r = json.loads(line)
            if r["scale"] != SCALE.get(r["workload"]):
                continue
            for k, m in r["metrics"].items():
                if (k in end_to_end) == (r["trace"] == 0):
                    runs.setdefault((r["workload"], k), []).append(m["value"])
    return runs


def summary(xs):
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def verdict(name, base, new, spec):
    if base == new:
        return "same"
    better = spec.get(name, {}).get("better", "lower")
    worse = new > base if better == "lower" else new < base
    change = abs(new - base) / abs(base) if base else float("inf")
    bound = spec.get(name, {}).get("bound")
    if name in COUNTERS:
        return f"{'more' if new > base else 'fewer'} ({change:.1%})"
    if bound is None:
        return ("worse" if worse else "better") + f" {change:.1%}"
    if change <= bound:
        return f"within bound {bound:.0%}"
    return ("REGRESSED" if worse else "improved") + f" {change:.1%} > {bound:.0%}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    b = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    spec = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    e2e = {m["name"] for m in b["end_to_end"]}
    base, new = load(sys.argv[1], e2e), load(sys.argv[2], e2e)
    keys = sorted(set(base) & set(new),
                  key=lambda k: (k[0], k[1] not in COUNTERS, k[1]))
    regressed = False
    print(f"{'workload':<20} {'metric':<34} {'base median [q1, q3]':>34} "
          f"{'new median [q1, q3]':>34}  verdict")
    for wl, name in keys:
        bm, b1, b3 = summary(base[(wl, name)])
        nm, n1, n3 = summary(new[(wl, name)])
        v = verdict(name, bm, nm, spec)
        regressed |= v.startswith("REGRESSED")
        print(f"{wl:<20} {name:<34} {bm:>12.5g} [{b1:>9.4g}, {b3:>9.4g}] "
              f"{nm:>12.5g} [{n1:>9.4g}, {n3:>9.4g}]  {v}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
