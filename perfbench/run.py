#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload catalog_scan --seed 1 --seconds 15 --trace 0

Builds the harness and the library from source when needed, generates
the workload's inputs from the seed, runs the workload in one JVM on
local[nproc], checks every output, writes an artifact under
perfbench/results/ and prints one JSON result as its last stdout line.
Exits non-zero if any op failed or any output was wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# Sizes. Each workload is one client in a closed loop: the next op starts
# when the previous one has finished.
CATALOG_SCALE = 0.01        # 60k lineitems, 10k events, 500 documents
KITTI = dict(drives=4, frames=4, points=30000)
INGEST = dict(batches=4, docs=1000)
INGEST_MAINT_EVERY = 2      # a full maintenance pass after every 2nd batch
INGEST_EXPECTED_ITEMS = 2000
SETUPS = 3                  # set-up repetitions; setup_s is their median
JVM_HEAP = "2g"             # fixed (-Xms = -Xmx), so the peak RSS is steady
JVM_TIMEOUT_S = 160

# op_p90_s is left to the artifact: a run has 20 (catalog) or 4 (ingest)
# op samples, too few for a steady 90th percentile
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("items_per_s", "1/s"), ("peak_rss_mb", "MB")]
SPARK_COUNTERS = [("analysis_s", "s"), ("optimization_s", "s"), ("planning_s", "s"),
                  ("task_cpu_s", "s"), ("task_run_s", "s"), ("gc_s", "s"),
                  ("task_wait_s", "s"), ("fetch_wait_s", "s"), ("shuffle_write_mb", "MB"),
                  ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB"),
                  ("output_mb", "MB"), ("jobs", "count"), ("stages", "count"),
                  ("tasks", "count"), ("task_failures", "count")]
INGEST_STAGES = ["state_load", "canon_frontier", "gates_exact_dedup", "neardup_band",
                 "neardup_gate", "shard_write", "neardup_append", "bloom_fold", "drift_fold"]
SCAN_QUERIES = ["q1_pricing_summary", "q5_local_supplier", "q9_product_profit",
                "q18_large_orders", "q20_excess_suppliers", "q21_blame_supplier",
                "q_window_rank", "d1_exact_dedup", "d15_exact_substr", "d16_substr_remove",
                "s1_cosine_topk", "t7_vocab_topk", "t13_keywords", "t15_bigram_lm",
                "t33_gopher_rules", "e2_sessionization", "e9_session_window",
                "k10_density_patches", "p1_corpus_pipeline", "m5_image_pipeline"]
ITERATIVE_QUERIES = ["d7_dup_clusters", "d12_pagerank", "p6_cluster_keep_best",
                     "t35_quality_classifier", "t37_langid_trained", "e6_peak_concurrency",
                     "s10_bm25_queries", "d10_triangles", "d17_cross_substr",
                     "s11_hybrid_fusion", "s7_ivfpq"]


def per_layer_names():
    """Every per-layer metric, with its unit, in a fixed order."""
    names = [("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
             ("queries.construct_driver_s", "s"), ("queries.exec_s", "s"),
             ("queries.exec_jobs", "count"), ("queries.count_s", "s")]
    names += [(f"queries.{q}.exec_s", "s") for q in SCAN_QUERIES]
    names += [(f"spark.{n}", u) for n, u in SPARK_COUNTERS]
    names += [("sources.shard_files", "count"), ("sources.shard_mb", "MB")]
    names += [(f"streaming.stage.{s}_s", "s") for s in INGEST_STAGES]
    names += [(f"streaming.maint.phase{k}_s", "s") for k in range(4)]
    names += [("streaming.maint_p50_s", "s"), ("streaming.state.neardup_files", "count"),
              ("streaming.state.neardup_mb", "MB"), ("streaming.state.bloom_epochs", "count"),
              ("streaming.state.url_bloom_fill", "ratio"), ("streaming.state.drift_mb", "MB"),
              ("streaming.ship_ratio", "ratio"), ("fail_ratio", "ratio")]
    return names


def percentile(values, q):
    """The q-th percentile (0-100) of `values`, linear between closest
    ranks, and the number of samples it was taken over. An empty sample
    gives (nan, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """Steal time so far: CPU time the hypervisor ran other guests on our
    CPUs (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", "project", "results", ".work"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, top).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt's launcher script starts a JVM of its own) and wait for it.
    Returns the exit code, or None after a timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("cannot find Spark: set SPARK_HOME")
    return home


def build():
    """Compile the harness and the library (from ../src/main/scala) with
    sbt, unless the sources are unchanged since the last build. Returns
    the runtime classpath."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        die(f"library sources not found at {os.path.relpath(lib, ROOT)}")
    target = os.path.join(HERE, "target")
    stamp_file, cp_file = os.path.join(target, "bench-stamp"), os.path.join(target, "bench-classpath.txt")
    stamp = tree_hash([lib, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(stamp_file) and os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    t0 = time.time()
    os.makedirs(target, exist_ok=True)
    log_path = os.path.join(target, "bench-build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                        f"-Dsbt.global.base={target}/sbt-global", "benchClasspath"],
                       840, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(cp_file).read().strip()


def generate(workload, seed, dest):
    """Write the workload's inputs; returns their sizes."""
    if workload.startswith("catalog"):
        return gen.catalog(os.path.join(dest, "catalog"), seed, CATALOG_SCALE)
    if workload == "kitti_pipeline":
        return gen.kitti(os.path.join(dest, "kitti"), seed, **KITTI)
    return gen.ingest(os.path.join(dest, "ingest"), seed, **INGEST)


def run_jvm(classpath, conf, log_path):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else (shutil.which("java") or die("java not found"))
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={conf['work']}/tmp"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + [f"{k}={v}" for k, v in conf.items()]
    os.makedirs(f"{conf['work']}/tmp", exist_ok=True)
    with open(log_path, "w") as log:
        rc = run_group(cmd, JVM_TIMEOUT_S, stdout=log, stderr=subprocess.STDOUT, cwd=conf["work"])
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"the benchmark JVM exited with {rc}", 1)
    with open(conf["out"]) as f:
        return json.load(f)


def dir_stats(path, suffix=".parquet"):
    files, size = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size / 1048576.0


def per_layer(workload, res, state_dir):
    """The per-layer table of a traced run. Totals are per pass; per-item
    times are medians over passes or batches. A metric of a layer the
    workload does not touch reads 0. The by-hand workloads add their own
    metrics, which only the artifact carries."""
    passes = res["passes"]
    n = len(passes)
    ops = [o for p in passes for o in p["ops"]]
    m = {name: 0.0 for name, _ in per_layer_names()}
    for k, v in res["counters"].items():
        m[f"spark.{k}"] = v / n
    if workload == "kitti_pipeline":
        d = [o for o in ops if o["ok"]]
        tot = lambda f: sum(f(o) for o in d) / n
        ph = lambda k: tot(lambda o: o["phases"][k])
        jobs = lambda k: tot(lambda o: o["info"].get(f"jobs.{k}", 0))
        m["sources.kitti_scan_s"], m["sources.readback_s"] = ph("read"), ph("readback")
        m["operators.analysis_s"] = ph("analysis")
        m["operators.cutout_write_s"], m["operators.cutout_stats_s"] = ph("cutout_write"), ph("cutout_stats")
        m["operators.cutout_s"] = m["operators.cutout_write_s"] + m["operators.cutout_stats_s"]
        m["operators.analysis_jobs"] = jobs("analysis")
        m["operators.analysis_driver_s"] = tot(lambda o: o["info"].get("driver_s.analysis", 0.0))
        m["operators.cutout_jobs"] = jobs("cutout_write") + jobs("cutout_stats")
        outs = [dir_stats(o["info"]["out"], ".bin") for o in passes[-1]["ops"] if o["ok"]]
        m["sources.cutout_files"] = sum(f for f, _ in outs)
        m["sources.cutout_mb"] = sum(mb for _, mb in outs)
    if workload.startswith("catalog"):
        q = [o for o in ops if o["kind"] == "query" and o["ok"]]
        tot = lambda f: sum(f(o) for o in q) / n
        if workload == "catalog_iterative":
            for name in ITERATIVE_QUERIES:
                xs = [o["phases"]["construct"] for o in q if o["op"] == name]
                if xs:
                    m[f"queries.{name}.construct_s"] = statistics.median(xs)
        m["queries.construct_s"] = tot(lambda o: o["phases"]["construct"])
        m["queries.construct_jobs"] = tot(lambda o: o["info"].get("jobs.construct", 0))
        m["queries.construct_driver_s"] = tot(lambda o: o["info"].get("driver_s.construct", 0.0))
        m["queries.exec_s"] = tot(lambda o: o["phases"]["exec"])
        m["queries.exec_jobs"] = tot(lambda o: o["info"].get("jobs.exec", 0))
        m["queries.count_s"] = sum(o["latency_s"] for o in res["untimed"]
                                   if o["kind"] == "count" and o["ok"])
        for name in SCAN_QUERIES:
            xs = [o["phases"]["exec"] for o in q if o["op"] == name]
            if xs:
                m[f"queries.{name}.exec_s"] = statistics.median(xs)
    if workload == "ingest_loop":
        batches = [o for o in ops if o["kind"] == "batch" and o["ok"]]
        maint = [o for o in ops if o["kind"] == "maint" and o["ok"]]
        if not batches or not maint:  # failed run: the failures are reported
            return m
        for s in INGEST_STAGES:
            m[f"streaming.stage.{s}_s"] = statistics.median(o["phases"].get(s, 0.0) for o in batches)
        for k in range(4):
            m[f"streaming.maint.phase{k}_s"] = statistics.median(o["phases"][f"phase{k}"] for o in maint)
        m["streaming.maint_p50_s"] = statistics.median(o["latency_s"] for o in maint)
        last = batches[-1]["info"]
        m["streaming.state.bloom_epochs"] = last.get("epochs:url_bloom", 0) + last.get("epochs:text_bloom", 0)
        m["streaming.state.url_bloom_fill"] = last.get("fill:url_bloom", 0.0)
        m["streaming.state.neardup_files"], m["streaming.state.neardup_mb"] = dir_stats(f"{state_dir}/neardup")
        m["streaming.state.drift_mb"] = dir_stats(f"{state_dir}/drift")[1]
        m["sources.shard_files"], m["sources.shard_mb"] = dir_stats(f"{state_dir}/shards")
        m["streaming.ship_ratio"] = sum(o["info"]["shipped"] for o in batches) / (INGEST["docs"] * len(batches))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog_scan", "ingest_loop", "catalog_iterative", "kitti_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", default="",
                    help="name of an op that is made to fail (self-test)")
    a = ap.parse_args()

    load_start, steal_start = loadavg(), steal_s()
    classpath = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}")
    if os.path.exists(work):
        shutil.rmtree(work)
    inputs = os.path.join(work, "input")
    os.makedirs(inputs)

    # set-up part 1: input generation, repeated; the copies must agree
    gen_s, digests = [], set()
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        sizes = generate(a.workload, a.seed, inputs)
        gen_s.append(time.perf_counter() - t0)
        digests.add(tree_hash([inputs]))
    if len(digests) != 1:
        die("input generation is not deterministic", 1)

    nproc = os.cpu_count()
    conf = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "input": inputs, "work": work, "out": os.path.join(work, "result.json"),
            "cpus": nproc, "setups": SETUPS, "inject": a.inject_failure,
            "maint_every": INGEST_MAINT_EVERY, "expected_items": INGEST_EXPECTED_ITEMS}
    res = run_jvm(classpath, conf, os.path.join(work, "jvm.log"))

    # output checks, outside the timed region
    passes = res["passes"]
    timed = [o for p in passes for o in p["ops"]]
    failed_ops = [(o["op"], o["error"]) for o in timed + res["untimed"] if not o["ok"]]
    state_dir = None
    ulp_diffs = {}
    if a.workload.startswith("catalog"):
        names = SCAN_QUERIES if a.workload == "catalog_scan" else ITERATIVE_QUERIES
        bad = checks.catalog(f"{inputs}/catalog", f"{work}/verify", f"{work}/oracle_sql.json",
                             names, ulp_diffs)
        n_checks = len(names)
    elif a.workload == "kitti_pipeline":
        last = passes[-1]["ops"]
        bad = checks.kitti(f"{inputs}/kitti", timed, last)
        n_checks = len(timed)
    else:
        state_dirs = [f"{work}/ingest/pass{i}" for i in range(len(passes))]
        state_dir = state_dirs[-1]
        bad = checks.ingest(f"{inputs}/ingest", state_dirs, [p["ops"] for p in passes])
        n_checks = len(passes)
    attempted = len(timed) + len(res["untimed"]) + n_checks
    failed = len(failed_ops) + len(bad)

    # end-to-end metrics
    op_kind = {"catalog_scan": "query", "catalog_iterative": "query",
               "kitti_pipeline": "drive", "ingest_loop": "batch"}[a.workload]
    lat = [o["latency_s"] for o in timed if o["kind"] == op_kind and o["ok"]]
    walls = [p["wall_s"] for p in passes]
    items = {"catalog_scan": len(SCAN_QUERIES), "catalog_iterative": len(ITERATIVE_QUERIES),
             "kitti_pipeline": sizes.get("points"), "ingest_loop": sizes.get("docs")}[a.workload]
    p50, n_lat = percentile(lat, 50)
    p90, _ = percentile(lat, 90)
    setup = statistics.median(gen_s) + statistics.median(
        s + w for s, w in zip(res["session_s"], res["warmup_s"]))
    e2e = {"setup_s": setup, "wall_s": statistics.median(walls), "op_p50_s": p50,
           "items_per_s": items * len(passes) / sum(walls), "peak_rss_mb": res["peak_rss_mb"]}

    if a.trace:
        layer = per_layer(a.workload, res, state_dir)
        layer["fail_ratio"] = failed / attempted
        units = dict(per_layer_names())
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    for v in metrics.values():  # no samples (every op failed): no value
        if v["value"] != v["value"]:
            v["value"] = None

    # artifact: stamp, every op, and for a traced run the spans, the
    # per-layer table and the tracing overhead against the untraced run
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    commit = None  # a checkout without git history carries the source hash only
    if os.path.isdir(os.path.join(ROOT, ".git")) and shutil.which("git"):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True).stdout.strip() or None
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "stamp": {"nproc": nproc, "loadavg_start": load_start, "loadavg_end": loadavg(),
                  "cpu_steal_s": steal_s() - steal_start,
                  "versions": res["versions"], "git_commit": commit,
                  "source_sha256": tree_hash([os.path.join(ROOT, "src", "main", "scala")]),
                  "input_sizes": sizes, "generation_s": gen_s,
                  "session_s": res["session_s"], "warmup_s": res["warmup_s"]},
        "end_to_end": e2e, "op_p90_s": p90, "op_samples": n_lat, "passes": len(passes),
        "attempted": attempted, "failed": failed,
        "failures": failed_ops + bad, "oracle_ulp_diffs": ulp_diffs,
        "ops": timed, "untimed": res["untimed"],
    }
    if a.trace:
        artifact["per_layer"] = layer
        artifact["spans"] = res["spans"]
        untraced = os.path.join(results, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]["wall_s"]
            artifact["trace_overhead_s"] = e2e["wall_s"] - base
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work)

    for name, err in failed_ops + bad:
        print(f"FAILED {name}: {err}")
    print(f"{a.workload} seed={a.seed} trace={a.trace} nproc={nproc} "
          f"loadavg={load_start[0]}->{artifact['stamp']['loadavg_end'][0]} "
          f"spark={res['versions']['spark']} java={res['versions']['java']} passes={len(passes)} "
          f"op samples={n_lat} attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": not bad and not failed_ops, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
