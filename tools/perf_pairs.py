#!/usr/bin/env python3
"""Paired perfbench comparison: parent runs against change runs, by seed.

    python3 tools/perf_pairs.py PARENT_RESULTS CHANGE_RESULTS [--workload W] [--trace 0]

PARENT_RESULTS and CHANGE_RESULTS are `perfbench/results/` directories
of two checkouts (say a parent commit and a change), holding
`<workload>-s<seed>-t<trace>.json` artifacts written by
`perfbench/run.py`. Runs are paired by seed; a seed present on one side
only is skipped and named. Both sides should alternate run for run on
the same box, so load drifts into both.

For each end-to-end metric it prints the parent and change medians over
the pairs, the change/parent ratio, the parent's IQR/median (the spread
a move has to clear) and the pairs the change wins (lower is better,
except for the metrics `BENCHMARK.json` marks higher-is-better). Then,
per op (a catalog query, an ingest batch, ...), the median of each
run's median latency on both sides, the parent's IQR of those per-run
medians, and the change's win count. Reads the artifacts only.
"""
import argparse
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^(?P<w>.+)-s(?P<seed>\d+)-t(?P<t>[01])\.json$")


def quartiles(xs):
    """(q1, median, q3), inclusive method; one sample is its own IQR 0."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def load(dirname, workload, trace):
    runs = {}
    for f in sorted(os.listdir(dirname)):
        m = NAME.match(f)
        if m and m["w"] == workload and int(m["t"]) == trace:
            with open(os.path.join(dirname, f)) as fh:
                runs[int(m["seed"])] = json.load(fh)
    return runs


def op_medians(art):
    """op name -> median latency over the run's successful timed samples."""
    by = {}
    for o in art["ops"]:
        if o["ok"]:
            by.setdefault(o["op"], []).append(o["latency_s"])
    return {k: statistics.median(v) for k, v in by.items()}


def better_higher():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return {"items_per_s"}
    return {m["name"] for m in bench.get("end_to_end", []) if m.get("better") == "higher"}


def row(name, p, c, higher, width):
    q1, pm, q3 = quartiles(p)
    cm = statistics.median(c)
    wins = sum((b > a) if higher else (b < a) for a, b in zip(p, c))
    ratio = cm / pm if pm else float("nan")
    iqr = (q3 - q1) / pm if pm else float("nan")
    return (f"{name:<{width}} {pm:>10.4g} {cm:>10.4g} {ratio:>7.3f} "
            f"{iqr:>8.3f} {wins:>3}/{len(p)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="catalog_scan")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    par = load(a.parent, a.workload, a.trace)
    chg = load(a.change, a.workload, a.trace)
    seeds = sorted(set(par) & set(chg))
    lone = sorted(set(par) ^ set(chg))
    if not seeds:
        sys.exit(f"no seed has a {a.workload} t{a.trace} artifact on both sides")
    print(f"{a.workload} trace={a.trace}: {len(seeds)} pairs, seeds {seeds}"
          + (f" (unpaired, skipped: {lone})" if lone else ""))
    fails = [(s, par[s]["failed"], chg[s]["failed"]) for s in seeds
             if par[s]["failed"] or chg[s]["failed"]]
    for s, pf, cf in fails:
        print(f"  seed {s}: failed ops parent {pf}, change {cf}")
    for s in seeds:
        st_p, st_c = par[s]["stamp"], chg[s]["stamp"]
        print(f"  seed {s}: nproc {st_p['nproc']}/{st_c['nproc']} "
              f"load {st_p['loadavg_start'][0]:.2f}/{st_c['loadavg_start'][0]:.2f}")

    higher = better_higher()
    head = f"{'metric':<{24}} {'parent':>10} {'change':>10} {'ratio':>7} {'IQR/med':>8} wins"
    print("\nend to end (parent median, change median, change/parent, parent IQR/median)")
    print(head)
    for k in par[seeds[0]]["end_to_end"]:
        p = [par[s]["end_to_end"][k] for s in seeds]
        c = [chg[s]["end_to_end"][k] for s in seeds]
        if None in p or None in c:
            print(f"{k:<24} missing in some run")
            continue
        print(row(k, p, c, k in higher, 24))

    pm = {s: op_medians(par[s]) for s in seeds}
    cm = {s: op_medians(chg[s]) for s in seeds}
    ops = sorted(set().union(*(m.keys() for m in pm.values())))
    width = max([24] + [len(o) for o in ops])
    print("\nper op latency_s (median of per-run medians; parent IQR/median)")
    print(f"{'op':<{width}} {'parent':>10} {'change':>10} {'ratio':>7} {'IQR/med':>8} wins")
    for o in ops:
        both = [s for s in seeds if o in pm[s] and o in cm[s]]
        if not both:
            print(f"{o:<{width}} no successful sample on both sides")
            continue
        print(row(o, [pm[s][o] for s in both], [cm[s][o] for s in both], False, width))
    return 0


if __name__ == "__main__":
    sys.exit(main())
