#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: each check must accept the
program's real outputs and reject a slightly perturbed copy.

Usage (after one run of each workload, whose run directories under
.bench_run/ it reads):
  python3 perfbench/run.py --workload dbn --seed 1 --seconds 15
  python3 perfbench/run.py --workload registry_full --seed 1 --seconds 15
  python3 perfbench/selftest.py

Prints one line per case and exits 1 if any check accepts a perturbed
output or rejects a real one.
"""
import glob
import json
import os
import sys

import numpy as np
import pandas as pd

import checks
import run

RUNS = os.path.join(run.ROOT, ".bench_run")
failures = 0


def case(name, problems, want_reject):
    global failures
    rejected = bool(problems)
    ok = rejected == want_reject
    failures += not ok
    verdict = ("rejected" if rejected else "accepted") + ("" if ok else "  <-- WRONG")
    first = f": {problems[0]}" if problems else ""
    print(f"{name:<58} {verdict}{first}")


def dbn():
    work = os.path.join(RUNS, "dbn")
    inputs = os.path.join(work, "inputs")
    res = json.load(open(os.path.join(work, "result.json")))
    ids, x = run.read_pixels(inputs)
    last = len(res["passes"]) - 1
    for ci, c in enumerate(res["calls"]):
        ref = checks.reference_stack(x, ids, c["layers"], c["epochs"], res["model_seed"],
                                     os.path.join(RUNS, "cache"))
        got = run.read_weights(work, last, ci, c["layers"])
        def check(ws):
            return [f"layer {k}: {msg}" for k, msg in checks.check_weights(ref, ws)]
        case(f"{c['name']} weights as returned", check(got), False)
        for k in (0, len(got) - 1):
            bumped = [w.copy() for w in got]
            bumped[k][3, 1] += 1e-6
            case(f"{c['name']} layer {k}: one weight + 1e-6", check(bumped), True)
        case(f"{c['name']} last layer missing", check(got[:-1]), True)

    layers = res["calls"][0]["layers"]
    weights = run.read_weights(work, last, 0, layers)
    lines = []
    for f in sorted(glob.glob(os.path.join(work, "pipeline_out", "layer1", "part-*"))):
        lines += open(f).read().splitlines()
    problems, _ = checks.check_layer_file(lines, ids, x, weights[0], layers[1])
    case("layer1 text file as written", problems, False)
    key, vals = lines[7].split("\t")
    v = vals.split()
    v[5] = str(int(v[5]) + 1 if int(v[5]) < 255 else 254)
    off_by_one = lines[:7] + [key + "\t" + " ".join(v)] + lines[8:]
    case("layer1: one propagated value off by one step",
         checks.check_layer_file(off_by_one, ids, x, weights[0], layers[1])[0], True)
    case("layer1: one line dropped",
         checks.check_layer_file(lines[1:], ids, x, weights[0], layers[1])[0], True)
    case("layer1: one value dropped from a line",
         checks.check_layer_file(lines[:7] + [key + "\t" + " ".join(v[:-1])] + lines[8:],
                                 ids, x, weights[0], layers[1])[0], True)


def registry():
    work = os.path.join(RUNS, "registry_full")
    out = os.path.join(work, "registry_out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    want = checks.oracle_frames(os.path.join(work, "inputs", "tables"), sorted(oracle), oracle)
    for name in sorted(oracle):
        got = pd.concat([pd.read_parquet(f)
                         for f in sorted(glob.glob(os.path.join(out, name, "*.parquet")))])
        got = got.reset_index(drop=True)
        case(f"{name} as returned", checks.compare_frames(got, want[name]), False)
        case(f"{name}: one row dropped",
             checks.compare_frames(got.drop(index=len(got) // 2), want[name]), True)
        num = [c for c in got.columns if got[c].dtype.kind in "fi"]
        if num:
            c = num[-1]
            bumped = got.copy()
            r = len(got) // 3
            if got[c].dtype.kind == "f":
                bumped.loc[r, c] = np.nextafter(got[c].iloc[r], np.inf)
                what = "one float value one ulp up"
            else:
                bumped.loc[r, c] = got[c].iloc[r] + 1
                what = "one integer value + 1"
            case(f"{name}: {what} ({c})", checks.compare_frames(bumped, want[name]), True)
        swapped = pd.concat([got.iloc[[-1]], got.iloc[1:-1], got.iloc[[0]]]).reset_index(drop=True)
        if not swapped.equals(got):
            case(f"{name}: first and last rows swapped",
                 checks.compare_frames(swapped, want[name]), True)


def main():
    dbn()
    registry()
    print(f"\n{'all checks behave' if not failures else f'{failures} case(s) wrong'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
