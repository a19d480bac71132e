#!/usr/bin/env python3
"""Steadiness check: run two sets of repetitions of the same code and say
whether they agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]

Each repetition is one `perfbench/run.py` run with its own seed (set k,
repetition i uses seed 1000*k + i). For each workload and end-to-end metric
it prints each set's median and quartiles, the spread (q3 - q1) / median,
and whether
  - every spread is within the metric's bound,
  - each later set's median differs from the first set's, in either
    direction, by no more than the bound,
  - the share of failed operations is exactly the same in every run.
Raw results go to perfbench/work/steady-<time>.json, rewritten after every run. Exits 1 if any check
fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit code {p.returncode}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()
    workloads = a.workload or names
    metrics = bench["end_to_end"]

    raw = {w: [[] for _ in range(a.sets)] for w in workloads}
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    out = os.path.join(HERE, "work", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    for k in range(a.sets):
        for w in workloads:
            for i in range(a.runs):
                t = time.monotonic()
                r = run_once(w, 1000 * (k + 1) + i, bench["run_seconds"])
                raw[w][k].append(r)
                print(f"set {k + 1} {w} run {i + 1}: {time.monotonic() - t:.1f} s wall, "
                      f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
                      file=sys.stderr, flush=True)
                with open(out, "w") as fh:
                    json.dump(raw, fh)

    ok = True
    for w in workloads:
        print(f"\n{w}")
        shares = sorted({(r["failed"], r["attempted"]) for s in raw[w] for r in s})
        share_sets = [{r["failed"] / r["attempted"] for r in s} for s in raw[w]]
        same_share = all(len(s) == 1 for s in share_sets) and len(set.union(*share_sets)) == 1
        correct = all(r["correct"] for s in raw[w] for r in s)
        print(f"  failed/attempted per run: {shares}  same share: {same_share}  correct: {correct}")
        ok &= same_share and correct
        print(f"  {'metric':<18}{'set':>4}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>8}  verdict")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            for k, s in enumerate(raw[w]):
                vals = [r["metrics"][name]["value"] for r in s]
                q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
                spread = (q3 - q1) / abs(med) if med else float("inf")
                meds.append(med)
                verdict = ["spread ok" if spread <= bound else "SPREAD > BOUND"]
                ok &= spread <= bound
                if k > 0:
                    diff = (med - meds[0]) / abs(meds[0])
                    verdict.append(f"median {'+' if diff >= 0 else ''}{diff:.3f} "
                                   f"({'same' if diff == 0 else 'better' if (diff < 0) == lower else 'worse'}), "
                                   + ("ok" if abs(diff) <= bound else "OUTSIDE BOUND"))
                    ok &= abs(diff) <= bound
                print(f"  {name:<18}{k + 1:>4}{q1:>12.5g}{med:>12.5g}{q3:>12.5g}{spread:>8.3f}"
                      f"  {', '.join(verdict)} (bound {bound})")
    print(f"\nraw results: {os.path.relpath(out, ROOT)}")
    print("AGREE" if ok else "DISAGREE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
