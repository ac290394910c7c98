#!/usr/bin/env python3
"""Same work, job by job: compare two traced ingest_loop artifacts.

    python3 tools/ingest_same_work.py A.json B.json

A and B are `perfbench/results/ingest_loop-s<seed>-t1.json` files from
two checkouts (say a parent commit and a change), run with the same
seed. Per op, in run order, it prints the Spark jobs each side ran:
for a batch the jobs launched inside the batch span, for a maintenance
op the jobs of each phase span. It then compares what each batch did:
`shipped`, every `ndidx:*`, `bloomdrop:*`, `fill:*` and `epochs:*` gauge,
and the stage (phase) names. A run repeats its op sequence once per
timed pass, so every op is named by its pass, and a different number
of passes is a difference. Any difference is listed, and the exit
code is 1; equal work exits 0. Job counts are reported, not judged.
"""
import json
import sys

GAUGES = ("ndidx:", "bloomdrop:", "fill:", "epochs:")


def load(path):
    with open(path) as f:
        art = json.load(f)
    if art.get("workload") != "ingest_loop" or not art.get("spans"):
        sys.exit(f"{path}: not a traced ingest_loop artifact")
    return art


def jobs_by_span(art):
    """Number of job spans directly under each span id."""
    n = {}
    for s in art["spans"]:
        if s["kind"] == "job":
            n[s["parent"]] = n.get(s["parent"], 0) + 1
    return n


def job_rows(art):
    """(row name, jobs) in run order: one row per batch op, one per
    maintenance phase, each named `pass<p>/<op>`."""
    jobs = jobs_by_span(art)
    spans = sorted((s for s in art["spans"] if s["kind"] != "job"),
                   key=lambda s: s["start_ms"])
    pass_of = {s["id"]: s["name"] for s in spans if s["kind"] == "pass"}
    rows = []
    for op in (s for s in spans if s["kind"] == "op"):
        name = f"{pass_of.get(op['parent'], 'untimed')}/{op['name']}"
        phases = [s for s in spans if s["parent"] == op["id"] and s["kind"] == "phase"]
        if phases:
            rows += [(f"{name}.{p['name']}", jobs.get(p["id"], 0)) for p in phases]
        else:
            rows.append((name, jobs.get(op["id"], 0)))
    return rows


def work(art):
    """Per `pass<p>/<op>`: the gauges and stage names that must not
    differ. `ops` lists every pass's ops in run order, so an op's pass
    is the number of times its name came before."""
    out, seen = {}, {}
    for op in art["ops"]:
        p = seen.get(op["op"], 0)
        seen[op["op"]] = p + 1
        info = op.get("info", {})
        w = {k: v for k, v in info.items() if k == "shipped" or k.startswith(GAUGES)}
        w["stages"] = sorted(op.get("phases", {}))
        out[f"pass{p}/{op['op']}"] = w
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    ja, jb = dict(job_rows(a)), dict(job_rows(b))
    names = [n for n, _ in job_rows(a)] + [n for n, _ in job_rows(b) if n not in ja]
    width = max(len(n) for n in names + ["op"])
    print(f"{'op':<{width}}  {'jobs A':>6}  {'jobs B':>6}")
    for n in names:
        fa, fb = ja.get(n, "-"), jb.get(n, "-")
        mark = "  (more)" if isinstance(fa, int) and isinstance(fb, int) and fb > fa else ""
        print(f"{n:<{width}}  {fa:>6}  {fb:>6}{mark}")
    wa, wb = work(a), work(b)
    diffs = []
    if a["passes"] != b["passes"]:
        diffs.append(f"passes: A={a['passes']} B={b['passes']}")
    for op in sorted(set(wa) | set(wb)):
        if op not in wa or op not in wb:
            diffs.append(f"{op}: only in {'A' if op in wa else 'B'}")
            continue
        for k in sorted(set(wa[op]) | set(wb[op])):
            va, vb = wa[op].get(k), wb[op].get(k)
            if va != vb:
                diffs.append(f"{op} {k}: A={va} B={vb}")
    if diffs:
        print(f"\nDIFFERENT WORK ({len(diffs)}):")
        for d in diffs:
            print("  " + d)
        return 1
    print(f"\nsame work: {len(wa)} ops, identical shipped, gauges and stage names")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
