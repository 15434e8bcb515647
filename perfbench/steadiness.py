#!/usr/bin/env python3
"""Steadiness check: two alternating sets of benchmark runs of one workload.

    python3 perfbench/steadiness.py --workload stream_cdc --first-seed 301

Runs set A and set B alternately (A, B, A, B, ...), each run with its own
seed, and prints for every end-to-end metric each set's median, quartiles
and relative spread (q3 - q1) / median, the shift between the two sets'
medians, and the share of failed operations in each set. It is how the
bounds in BENCHMARK.json were set, and how to check them again. Run it from
the root of a checkout, like run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        sys.exit(f"run {workload} seed {seed} failed (exit {r.returncode})")
    return json.loads(r.stdout.strip().splitlines()[-1])


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    sets = ([], [])
    seed = a.first_seed
    for i in range(a.runs):
        for s in range(2):
            res = run(a.workload, seed, seconds)
            if not res["correct"]:
                sys.exit(f"seed {seed}: outputs were wrong")
            sets[s].append(res)
            print(f"set {'AB'[s]} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                file=sys.stderr)
            seed += 1
    names = list(sets[0][0]["metrics"])
    print(f"{a.workload}: {a.runs} runs per set, {seconds}s each")
    for s, rs in enumerate(sets):
        att = sum(r["attempted"] for r in rs)
        bad = sum(r["failed"] for r in rs)
        print(f"set {'AB'[s]}: failed {bad}/{att} operations")
    print(f"{'metric':<24}{'set':>4}{'median':>14}{'q1':>14}{'q3':>14}"
          f"{'spread':>9}{'bound':>7}")
    for n in names:
        meds = []
        for s, rs in enumerate(sets):
            med, q1, q3, sp = stats([r["metrics"][n]["value"] for r in rs])
            meds.append(med)
            b = bounds.get(n)
            print(f"{n:<24}{'AB'[s]:>4}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}"
                  f"{sp:>9.4f}{'' if b is None else b:>7}")
        if meds[0]:
            med, q1, q3, sp = stats([r["metrics"][n]["value"]
                                     for rs in sets for r in rs])
            print(f"{'':<24}{'all':>4}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}"
                  f"{sp:>9.4f}")
            print(f"{'':<24}{'B/A':>4}{meds[1] / meds[0]:>14.4f}")


if __name__ == "__main__":
    main()
