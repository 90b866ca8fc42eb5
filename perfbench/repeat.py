#!/usr/bin/env python3
"""Repeat runner: run one workload several times and report, per metric,
the median, quartiles and spread (interquartile range / median) against
the metric's bound in BENCHMARK.json.

    # k runs on one seed, then k runs on a held-out seed
    python3 perfbench/repeat.py --workload bulk_load --seed 1 -k 5
    # one run per seed (the cross-seed spread)
    python3 perfbench/repeat.py --workload bulk_load --seeds 1,2,3,4,5

Run from the repository root. A spread at or above a third of its bound
is flagged; `setup_s` is reported but only its median is bounded. With two
sets, the second set's medians are compared with the first's against each
metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# Never used while the benchmark was being built and tuned.
HOLDOUT_SEED = 7919


def run_once(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if proc.returncode != 0 or not result.get("correct"):
        print(f"  seed {seed}: FAILED (exit {proc.returncode})", file=sys.stderr)
        return None
    values = {k: v["value"] for k, v in result["metrics"].items()}
    print(f"  seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in values.items()), flush=True)
    return values


def summarize(label, runs, bounds):
    """Print one set's medians, quartiles and spreads; return (ok, medians)."""
    print(f"\n{label}: {len(runs)} runs")
    print(f"  {'metric':<32}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}")
    ok = True
    medians = {}
    for name in runs[0]:
        vals = [r[name] for r in runs]
        med = statistics.median(vals)
        medians[name] = med
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s" and spread >= bound / 3:
            flag, ok = "  <-- spread >= bound/3", False
        b = f"{bound:>8.2f}" if bound is not None else f"{'-':>8}"
        print(f"  {name:<32}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{spread:>9.3f}{b}{flag}")
    return ok, medians


def compare(first, second, spec):
    """How much worse the second set's median is than the first's, as a
    share of the first, against each metric's bound."""
    print("\nsecond set against first (share of first median; + is worse)")
    ok = True
    for m in spec["end_to_end"]:
        a, b = first.get(m["name"]), second.get(m["name"])
        if a is None or b is None:
            continue
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        flag = ""
        if worse > m["bound"]:
            flag, ok = "  <-- worse than bound", False
        print(f"  {m['name']:<32}{worse:>+9.3f}{m['bound']:>8.2f}{flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("-k", type=int, default=5)
    ap.add_argument("--seeds", help="comma-separated seeds, one run each")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    if a.seeds:
        plans = [(f"seeds {a.seeds}", [int(s) for s in a.seeds.split(",")])]
    else:
        plans = [(f"seed {a.seed} x{a.k}", [a.seed] * a.k),
                 (f"held-out seed {HOLDOUT_SEED} x{a.k}", [HOLDOUT_SEED] * a.k)]
    ok = True
    medians = []
    for label, seeds in plans:
        runs = [r for r in (run_once(a.workload, s, seconds, a.trace) for s in seeds) if r]
        if len(runs) < len(seeds):
            ok = False
        if runs:
            set_ok, med = summarize(f"{a.workload} {label}", runs, bounds if not a.trace else {})
            ok = set_ok and ok
            medians.append(med)
    if len(medians) == 2 and not a.trace:
        ok = compare(medians[0], medians[1], spec) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
