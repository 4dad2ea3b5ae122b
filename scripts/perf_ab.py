#!/usr/bin/env python3
"""Paired, interleaved A/B of perfbench between two checkouts.

Usage:
    python3 scripts/perf_ab.py --parent DIR --change DIR --workload W \\
        --pairs N --seed0 S [--seconds 10] [--out FILE]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T`
once in each checkout, each from its own directory (so each side builds and
runs its own sources and its own perfbench), with the order alternating:
even pairs run the parent first, odd pairs the change first, so warm-up and
host drift fall on both sides alike. Each run's last stdout line is the
result JSON. For every end-to-end metric named in the parent's
BENCHMARK.json (all of the result's metrics when there is none) it prints
the parent and change medians, the parent's IQR, the median change in
percent and in how many pairs the change was better; then each side's
failed and attempted op counts. A run that exits non-zero is reported and
counted as failed; its pair contributes no samples. `--out` also writes
every run's result as JSON.

The script only runs and reports: it changes neither checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def metric_spec(checkout):
    """(name, better) of each end-to-end metric BENCHMARK.json declares."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return [(m["name"], m.get("better", "lower")) for m in json.load(fh)["end_to_end"]]


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args()

    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed, args.seconds)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  + ("FAILED" if pair[side] is None else "ok"), file=sys.stderr)
        for side in sides:
            runs[side].append(pair[side])
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seed0": args.seed0,
                       "pairs": args.pairs, "runs": runs}, fh, indent=1)

    complete = [i for i in range(args.pairs)
                if runs["parent"][i] is not None and runs["change"][i] is not None]
    spec = metric_spec(args.parent)
    if spec is None:
        first = next((runs["parent"][i] for i in complete), None)
        spec = [(k, "lower") for k in (first or {}).get("metrics", {})]
    print(f"{args.workload}: {len(complete)} complete pairs of {args.pairs}, "
          f"seeds {args.seed0}..{args.seed0 + args.pairs - 1}")
    print(f"{'metric':<20}{'parent':>12}{'change':>12}{'parent IQR':>12}"
          f"{'delta %':>10}{'better':>10}")
    for name, better in spec:
        pv = [runs["parent"][i]["metrics"][name]["value"] for i in complete
              if name in runs["parent"][i]["metrics"]]
        cv = [runs["change"][i]["metrics"][name]["value"] for i in complete
              if name in runs["change"][i]["metrics"]]
        if not pv or not cv or len(pv) != len(cv):
            print(f"{name:<20}{'(missing)':>12}")
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        wins = sum(1 for p, c in zip(pv, cv)
                   if (c < p if better == "lower" else c > p))
        print(f"{name:<20}{pm:>12.6g}{cm:>12.6g}{iqr(pv):>12.4g}"
              f"{delta:>+10.1f}{wins:>7}/{len(pv)}")
    for side in sides:
        ok = [r for r in runs[side] if r is not None]
        failed = sum(r["failed"] for r in ok)
        attempted = sum(r["attempted"] for r in ok)
        crashed = len(runs[side]) - len(ok)
        print(f"{side}: failed ops {failed} / attempted {attempted}, "
              f"runs that did not complete {crashed}")


if __name__ == "__main__":
    main()
