#!/usr/bin/env python3
"""Self-tests of the benchmark itself:

    python3 perfbench/selftest.py          # all, under a minute
    python3 perfbench/selftest.py --fast   # without the end-to-end run

1. the same seed gives byte-identical inputs, another seed other inputs;
2. the percentile helper reports its sample count;
3. an injected failing op is counted, makes `correct` false and the
   exit code non-zero.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import percentile, tree_hash  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")


def check_seeded_inputs():
    makers = {"catalog": lambda d, s: gen.catalog(d, s, 0.002),
              "kitti": lambda d, s: gen.kitti(d, s, 2, 2, 500),
              "ingest": lambda d, s: gen.ingest(d, s, 2, 60)}
    for name, make in makers.items():
        digests = []
        for run, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(SCRATCH, f"{name}-{run}")
            make(d, seed)
            digests.append(tree_hash([d]))
        assert digests[0] == digests[1], f"{name}: same seed, different inputs"
        assert digests[0] != digests[2], f"{name}: different seeds, same inputs"
    print("ok  seeded inputs are reproducible and seed-dependent")


def check_percentile():
    assert percentile([3.0, 1.0, 2.0], 50) == (2.0, 3)
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == (2.5, 4)
    v, n = percentile([], 90)
    assert n == 0 and v != v
    print("ok  percentile reports its sample count")


def check_injected_failure():
    # kitti_pipeline: the cheapest run, and the other drives still go
    # through the full NumPy checks
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "kitti_pipeline",
                        "--seed", "3", "--seconds", "1", "--inject-failure", "drive01"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode != 0, "an injected failure must fail the run"
    assert last["failed"] == 1 and not last["correct"], last
    assert "FAILED drive01" in p.stdout
    print(f"ok  injected failure: exit {p.returncode}, failed {last['failed']} of {last['attempted']}")


if __name__ == "__main__":
    os.makedirs(SCRATCH, exist_ok=True)
    try:
        check_seeded_inputs()
        check_percentile()
        if "--fast" not in sys.argv:
            check_injected_failure()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
