#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness once per source state (sbt, offline,
into .bench_build/ and the target/ dirs), generates the seeded inputs,
starts one JVM on local[<cores>] straight from the compiled classpath,
checks the program's outputs against the independent references in
checks.py, and prints one JSON object as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
its per-layer metrics (and writes spans.json into the run directory).
The run directory, .bench_run/<workload>/, is kept for inspection.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
WORKLOADS = {"dbn": "pixels", "registry_full": "tables"}
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
import checks  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(d, "*.sbt")) + glob.glob(os.path.join(d, "*.properties"))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        # its own process group, so a timeout also stops the JVM sbt starts
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.server.autostart=false",
                                 "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=850)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit("build timed out; see .bench_build/build.log")
    if rc != 0:
        sys.exit(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work, inputs, cores, deadline):
    cp = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    jopts = open(os.path.join(BUILD, "javaopts.txt")).read().split()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0_ms = int(time.time() * 1000)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *jopts, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--inputs", inputs, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--t0-ms", str(t0_ms)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("the JVM ran past the run's time limit; see jvm.log")
    if rc != 0:
        sys.exit(f"the JVM exited with {rc}; see {os.path.relpath(work, ROOT)}/jvm.log")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def read_pixels(inputs):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(inputs, "pixels_parquet")).to_pydict()
    order = np.argsort(t["id"])
    return np.array(t["id"], dtype=np.int64)[order], np.array(t["x"])[order]


def read_weights(work, p, call, layers):
    out = []
    for k in range(len(layers) - 1):
        f = os.path.join(work, "weights", f"pass{p}_call{call}_layer{k}.f64be")
        if not os.path.exists(f):
            return out
        out.append(np.fromfile(f, dtype=">f8").reshape(layers[k], layers[k + 1]))
    return out


def check_dbn(res, work, inputs):
    """Failed operation indices per pass. The operations are the layers
    of each call in order; call 0 is DeepLearningPipeline.run, whose
    written outputs are checked too.
    """
    ids, x = read_pixels(inputs)
    cache = os.path.join(ROOT, ".bench_run", "cache")
    calls = res["calls"]
    refs = [checks.reference_stack(x, ids, c["layers"], c["epochs"], res["model_seed"], cache)
            for c in calls]
    offsets = np.cumsum([0] + [len(c["layers"]) - 1 for c in calls]).tolist()
    failed = []
    for p, rec in enumerate(res["passes"]):
        bad = set(rec["failed_ops"])
        for ci, (c, ref) in enumerate(zip(calls, refs)):
            if bad & set(range(offsets[ci], offsets[ci + 1])):
                continue
            for k, msg in checks.check_weights(ref, read_weights(work, p, ci, c["layers"])):
                log(f"pass {p} {c['name']} layer {k}: {msg}")
                bad.add(offsets[ci] + k)
        failed.append(bad)
    last = len(res["passes"]) - 1
    layers = calls[0]["layers"]
    for k, wrong in enumerate(check_pipeline_files(work, ids, x, layers,
                                                   read_weights(work, last, 0, layers))):
        if wrong:
            failed = [f | {k} for f in failed]
    return failed


def check_pipeline_files(work, ids, x, layers, weights):
    """Per layer, whether its written outputs (layer text, weight dump)
    are wrong. The files hold the last pass; every pass writes the same.
    """
    import pyarrow.parquet as pq
    out_dir = os.path.join(work, "pipeline_out")
    bad = []
    for k, w in enumerate(weights):
        lines = []
        for f in sorted(glob.glob(os.path.join(out_dir, f"layer{k + 1}", "part-*"))):
            with open(f) as fh:
                lines += fh.read().splitlines()
        problems, vals = checks.check_layer_file(lines, ids, x, w, layers[k + 1])
        t = pq.read_table(os.path.join(out_dir, f"weights_{k}")).to_pandas()
        dumped = np.full(w.shape, np.nan)
        dumped[t["i"].to_numpy(), t["j"].to_numpy()] = t["w"].to_numpy()
        if len(t) != w.size or not np.array_equal(dumped, w):
            problems.append(f"weights_{k} parquet differs from the returned weights")
        for msg in problems:
            log(f"layer{k + 1}: {msg}")
        bad.append(bool(problems))
        if vals is None:
            break
        x = vals / 255.0
    return bad + [True] * (len(weights) - len(bad))


def check_registry(res, work, inputs):
    import pandas as pd
    out = os.path.join(work, "registry_out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    names = sorted(oracle)
    order = res["queries"]
    want = checks.oracle_frames(os.path.join(inputs, "tables"), names, oracle)
    bad = set()
    for q, name in enumerate(order):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if name not in oracle:
            problems = ["no oracle"]
        elif not files:
            problems = ["no output"]
        else:
            got = pd.concat([pd.read_parquet(f) for f in files])
            problems = checks.compare_frames(got, want[name])
        for msg in problems:
            log(f"{name}: {msg}")
        if problems:
            bad.add(q)
    return [set(rec["failed_ops"]) | bad for rec in res["passes"]]


def geomean(xs):
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(spec_path)):
        sys.exit("no program to benchmark: run from a checkout of the repository")
    with open(spec_path) as fh:
        spec = json.load(fh)

    build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)
    work = os.path.join(ROOT, ".bench_run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    subprocess.check_call([sys.executable, os.path.join(HERE, "gen_inputs.py"),
                           WORKLOADS[args.workload], str(args.seed), inputs])
    cores = len(os.sched_getaffinity(0))
    t_jvm = time.time()
    res = run_jvm(args, work, inputs, cores, deadline)
    t_check = time.time()

    if args.workload == "registry_full":
        failed = check_registry(res, work, inputs)
    else:
        failed = check_dbn(res, work, inputs)
    log(f"jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s")
    passes = res["passes"]
    attempted = res["ops"] * len(passes)
    n_failed = sum(len(f) for f in failed)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: statistics.median(p["layers"].get(n, 0.0) for p in passes)
                  for n, _ in names}
        traced_total = statistics.median(p["total_s"] for p in passes)
        log(f"traced total_s {traced_total:.4f} (median of {len(passes)} passes)")
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        geo = [geomean(p["op_s"]) for p in passes if p["op_s"]]
        values = {
            "setup_s": res["setup_s"],
            "total_s": statistics.median(p["total_s"] for p in passes),
            "op_geomean_s": statistics.median(geo) if geo else 0.0,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "heap_retained_mb": res["heap_retained_mb"],
        }
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
