#!/usr/bin/env python3
"""Run one workload over several seeds and summarize each metric.

    python3 perfbench/steadiness.py --workload etl_hourly --seeds 1-10 \\
        --seconds 10 --out runs.jsonl [--records DIR]

Each run's result line (plus seed and wall time) is appended to `--out`;
at the end every metric's median, first and third quartile and spread
(Q3 - Q1) / median are printed as one JSON object, with the quartiles that
`statistics.quantiles(values, n=4)` gives. With `--records`, each run's
full record is kept there and the summary adds every op kind's latency
tail over the pooled samples of all the runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import summary  # noqa: E402


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_seed(workload, seed, seconds, trace, record=None):
    """One run of run.py: its result line plus seed and wall time, or None
    when it failed."""
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if record:
        cmd += ["--record", record]
    r = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        print(f"{workload} seed {seed}: failed\n{r.stderr[-2000:]}", file=sys.stderr)
        return None
    row = dict(json.loads(r.stdout.strip().splitlines()[-1]), seed=seed, wall_s=wall)
    print(f"{workload} seed {seed}: {wall:.0f} s correct={row['correct']} " +
          " ".join(f"{k}={v['value']:.4g}" for k, v in row["metrics"].items()),
          file=sys.stderr, flush=True)
    return row


def summarize(rows):
    vals = {}
    for r in rows:
        for k, v in r["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    out = {}
    for k, v in vals.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        out[k] = {"n": len(v), "median": med, "q1": q[0], "q3": q[2],
                  "spread": (q[2] - q[0]) / med if med else None}
    return out


def pooled_tails(records):
    """Latency summary of every op kind over the samples of all `records`
    (run.py --record files): p50 and the highest percentile with at least
    ten samples beyond it, with the sample count."""
    pooled = {}
    for f in records:
        with open(f) as fh:
            for k, v in json.load(fh)["latency"]["samples"].items():
                pooled.setdefault(k, []).extend(v)
    return {k: summary(v) for k, v in sorted(pooled.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,9")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--records", help="directory for each run's full record")
    args = ap.parse_args()
    rows, recs = [], []
    for sd in seeds(args.seeds):
        rec = None
        if args.records:
            rec = os.path.join(args.records, f"{args.workload}-{sd}.json")
        row = run_seed(args.workload, sd, args.seconds, args.trace, rec)
        if row is None:
            continue
        rows.append(row)
        if rec:
            recs.append(rec)
        with open(args.out, "a") as fh:
            fh.write(json.dumps(row) + "\n")
    out = {"workload": args.workload, "seconds": args.seconds,
           "trace": args.trace, "seeds": [r["seed"] for r in rows],
           "all_correct": all(r["correct"] for r in rows),
           "summary": summarize(rows)}
    if recs:
        out["pooled_latency"] = pooled_tails(recs)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
