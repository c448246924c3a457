#!/usr/bin/env python3
"""Steadiness tool: collects sets of benchmark runs and compares two sets.

Collect one set (one run per seed, appended as JSON lines):
  python3 perfbench/steadiness.py run --workload W --seeds 1-10 --out set_a.jsonl

Compare two sets of the same code:
  python3 perfbench/steadiness.py compare set_a.jsonl set_b.jsonl

For every workload and end-to-end metric it prints each set's median and
quartiles (statistics.quantiles, n=4), the spread (q3 - q1) / median,
and whether the two sets agree within the metric's bound in
BENCHMARK.json: each spread within the bound (setup_s exempt) and the
two medians apart by no more than the bound, in either direction. It also
checks that the share of failed operations is the same in both sets.
Exits 1 when any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    s = spec()
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(s["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        result = json.loads(lines[-1])
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "result": result}) + "\n")
        m = result["metrics"]
        print(f"{args.workload} seed {seed}: " +
              ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r["result"])
    return runs


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(args):
    s = spec()
    a, b = load(args.a), load(args.b)
    ok = True
    for w in [x["name"] for x in s["workloads"]]:
        if w not in a or w not in b:
            print(f"{w}: missing from one set")
            ok = False
            continue
        print(f"{w}: {len(a[w])} vs {len(b[w])} runs")
        print(f"  {'metric':<18}{'set':>4}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>9}"
              f"{'bound':>7}  verdict")
        for m in s["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = []
            for label, runs in (("A", a[w]), ("B", b[w])):
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = quartiles(vals)
                rows.append((label, q1, med, q3, (q3 - q1) / med))
            moved = rows[1][2] / rows[0][2] - 1
            verdicts = []
            if name != "setup_s" and max(r[4] for r in rows) > bound:
                verdicts.append("SPREAD>BOUND")
            if abs(moved) > bound:
                verdicts.append(f"MEDIANS APART {moved:+.1%}")
            verdict = ", ".join(verdicts) or f"agree (B vs A {moved:+.1%})"
            ok &= not verdicts
            for i, (label, q1, med, q3, spread) in enumerate(rows):
                print(f"  {name if i == 0 else '':<18}{label:>4}{q1:>12.4f}{med:>12.4f}"
                      f"{q3:>12.4f}{spread:>9.2%}{bound:>7.2f}  {verdict if i == 1 else ''}")
        share = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
                 for runs in (a[w], b[w])]
        same = all(r["failed"] * 1.0 / r["attempted"] == share[0] for r in a[w] + b[w])
        print(f"  failed share: A {share[0]:.4f}, B {share[1]:.4f}"
              f"{'' if same else '  DIFFERS'}")
        ok &= same
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        collect(args)
        return 0
    return compare(args)


if __name__ == "__main__":
    sys.exit(main())
