#!/usr/bin/env python3
"""Compare two sets of perfbench runs, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--workload W]

Each side is a directory (searched recursively) or a list of run files
saved by perfbench/run.py (they land in .bench_build/results/<workload>/);
only untraced runs count. For every metric of BENCHMARK.json it prints
each side's median and quartiles and a verdict:

  improved    the change wins at least 9 of 10 pairs (ties count for
              neither side) and the medians differ by more than the base's
              own quartile spread;
  unresolved  either side's quartile spread exceeds the metric's bound,
              and not every change run beats every base run;
  worse       the change's median is worse than the base's by more than the
              bound;
  unchanged   otherwise.

Runs are paired by seed where both sides ran the same seeds, otherwise in
the order they ran. Runs stamped busy_host are counted but listed.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                files += [os.path.join(d, n) for n in names if n.endswith(".json")]
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if isinstance(r, dict) and r.get("trace") == 0 and "e2e" in r:
            runs.append(r)
    return sorted(runs, key=lambda r: r["time"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    by_seed_a = {r["seed"]: r for r in a}
    by_seed_b = {r["seed"]: r for r in b}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if len(common) >= min(len(a), len(b)):
        return [(by_seed_a[s], by_seed_b[s]) for s in common]
    return list(zip(a, b))


def verdict(metric, a_vals, b_vals, paired):
    lower = metric["better"] == "lower"
    bound = metric.get("bound", 0.0)
    a1, am, a3 = quartiles(a_vals)
    b1, bm, b3 = quartiles(b_vals)

    def better(x, y):  # x better than y
        return x < y if lower else x > y

    wins = sum(better(y, x) for x, y in paired)
    if (paired and wins >= 0.9 * len(paired)
            and abs(bm - am) > (a3 - a1) and better(bm, am)):
        return "improved"
    all_better = all(better(y, x) for x in a_vals for y in b_vals)
    wide = am > 0 and bm > 0 and ((a3 - a1) / am > bound or (b3 - b1) / bm > bound)
    if wide and not all_better:
        return "unresolved"
    worse_by = (bm - am) / am if lower else (am - bm) / am
    if worse_by > bound:
        return "worse"
    return "unchanged"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base")
    p.add_argument("change")
    p.add_argument("--workload")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, change = load([a.base]), load([a.change])
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    if a.workload:
        workloads = [w for w in workloads if w == a.workload]
    if not workloads:
        print("no workload has untraced runs on both sides", file=sys.stderr)
        sys.exit(2)
    verdicts = []
    for w in workloads:
        ra = [r for r in base if r["workload"] == w]
        rb = [r for r in change if r["workload"] == w]
        paired = pairs(ra, rb)
        print(f"== {w}: base {len(ra)} runs, change {len(rb)} runs, {len(paired)} pairs")
        for side, rs in (("base", ra), ("change", rb)):
            failed = sum(r["result"]["failed"] for r in rs)
            busy = [r["seed"] for r in rs if r.get("busy_host")]
            builds = sorted({r.get("build", "?") for r in rs})
            print(f"   {side:<6} failed ops {failed}  builds {','.join(builds)}"
                  + (f"  busy-host seeds {busy}" if busy else ""))
        print(f"   {'metric':<12} {'bound':>6}  {'base q1 / median / q3':>30}  "
              f"{'change q1 / median / q3':>30}  verdict")
        for m in bench["end_to_end"]:
            n = m["name"]
            av = [r["e2e"][n] for r in ra]
            bv = [r["e2e"][n] for r in rb]
            pv = [(x["e2e"][n], y["e2e"][n]) for x, y in paired]
            v = verdict(m, av, bv, pv)
            verdicts.append(v)
            fa = " / ".join(f"{x:.4f}" for x in quartiles(av))
            fb = " / ".join(f"{x:.4f}" for x in quartiles(bv))
            print(f"   {n:<12} {m['bound']:>6.2f}  {fa:>30}  {fb:>30}  {v}")
    sys.exit(1 if "worse" in verdicts else 0)


if __name__ == "__main__":
    main()
