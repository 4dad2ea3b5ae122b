#!/usr/bin/env python3
"""Take the committed baseline: traced runs, two ten-seed sets per
workload, and a held-out seed, summarized into results/baseline.json.

    python3 perfbench/baseline.py [--seconds 10] [--out perfbench/results]

Per workload, in this order: traced runs on seeds 1-3 (seed 1's full
record is kept as results/trace_<workload>.json), set A on seeds 1-10,
set B on seeds 11-20, and seed 1001 (held out: never used while the
benchmark was tuned). baseline.json then holds, per set and workload,
every end-to-end metric's median, quartiles and spread (Q3 - Q1) /
median; the two sets' agreement against each metric's bound in
BENCHMARK.json; every op kind's latency tail over the pooled samples of a
set; the host's CPU steal during each run's timed loop; the tracing overhead (traced against untraced run_s on the same
seeds); the held-out seed's figures; and the run wall times against the
benchmark's time budget. About 50 minutes on a 4-core host.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from steadiness import pooled_tails, run_seed, summarize  # noqa: E402

WORKLOADS = ("etl_hourly", "corpus_curation")
SETS = {"A": range(1, 11), "B": range(11, 21)}
TRACED = (1, 2, 3)
HELD_OUT = 1001


def rnd(x):
    return round(x, 6) if isinstance(x, float) else x


def steal(record):
    """Share of the host's CPU stolen by other guests during a run's timed
    loop (None where /proc/stat is missing)."""
    with open(record) as fh:
        x = json.load(fh)["extra"].get("host_steal_frac")
    return None if x is None else round(x, 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(args.out, exist_ok=True)
    build = os.path.join(os.path.dirname(HERE), ".bench_build")
    os.makedirs(build, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="baseline-", dir=build)
    out = {"what": "baseline and steadiness record of perfbench; see README.md",
           "run_seconds": seconds, "sets": {}, "agreement": {},
           "tracing_overhead": {}, "held_out": {}, "wall_s": {}}
    walls = {w: [] for w in WORKLOADS}
    try:
        for w in WORKLOADS:
            traced = []
            for sd in TRACED:
                rec = os.path.join(tmp, f"trace-{w}-{sd}.json")
                row = run_seed(w, sd, seconds, 1, rec)
                if row:
                    traced.append(rec)
                    walls[w].append(row["wall_s"])
            if traced:
                shutil.copy(traced[0], os.path.join(args.out, f"trace_{w}.json"))
            untraced = {}
            for name, seeds in SETS.items():
                rows, recs = [], []
                for sd in seeds:
                    rec = os.path.join(tmp, f"{name}-{w}-{sd}.json")
                    row = run_seed(w, sd, seconds, 0, rec)
                    if row:
                        rows.append(row)
                        recs.append(rec)
                        walls[w].append(row["wall_s"])
                        untraced[sd] = row["metrics"]["run_s"]["value"]
                out["sets"].setdefault(name, {})[w] = {
                    "seeds": [r["seed"] for r in rows],
                    "all_correct": all(r["correct"] for r in rows),
                    "failed_ops": sum(r["failed"] for r in rows),
                    "metrics": {k: {kk: rnd(vv) for kk, vv in v.items()}
                                for k, v in summarize(rows).items()},
                    "pooled_latency": pooled_tails(recs),
                    "host_steal_frac": [steal(f) for f in recs]}
            tr = []
            for f in traced:
                with open(f) as fh:
                    r = json.load(fh)
                tr.append((r["provenance"]["seed"], r["latency"]["named"]["run_s"]["p50"]))
            same = [(sd, t, untraced[sd]) for sd, t in tr if sd in untraced]
            if same:
                t = statistics.median(x[1] for x in same)
                u = statistics.median(x[2] for x in same)
                out["tracing_overhead"][w] = {
                    "seeds": [x[0] for x in same], "run_s_traced": [x[1] for x in same],
                    "run_s_untraced": [x[2] for x in same],
                    "overhead": round(t / u - 1, 4)}
            rec = os.path.join(tmp, f"held-out-{w}.json")
            row = run_seed(w, HELD_OUT, seconds, 0, rec)
            if row:
                walls[w].append(row["wall_s"])
                with open(rec) as fh:
                    r = json.load(fh)
                out["held_out"][w] = {"seed": HELD_OUT, "correct": row["correct"],
                                      "metrics": {k: v["value"] for k, v in row["metrics"].items()},
                                      "latency": r["latency"]["named"]}
                out["provenance"] = {k: v for k, v in r["provenance"].items()
                                     if k not in ("seed", "traced")}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for w in WORKLOADS:
        a = out["sets"].get("A", {}).get(w, {}).get("metrics", {})
        b = out["sets"].get("B", {}).get(w, {}).get("metrics", {})
        out["agreement"][w] = {k: {
            "median_A": a[k]["median"], "median_B": b[k]["median"],
            "B_vs_A": round(b[k]["median"] / a[k]["median"] - 1, 4),
            "spread_A": a[k]["spread"], "spread_B": b[k]["spread"],
            "bound": bounds.get(k),
            "within_bound": abs(b[k]["median"] / a[k]["median"] - 1) <= bounds[k] and (
                k == "setup_s" or max(a[k]["spread"], b[k]["spread"]) <= bounds[k])}
            for k in a if k in b and k in bounds}
        if walls[w]:
            out["wall_s"][w] = {"median": round(statistics.median(walls[w]), 1),
                                "max": round(max(walls[w]), 1), "n": len(walls[w])}
    # the time budget: 4 + 22 runs per workload and two builds (~30 s
    # each) within 3420 s
    n = {w: 22 for w in WORKLOADS}
    n[WORKLOADS[0]] += 4
    est = sum(n[w] * out["wall_s"][w]["median"] for w in WORKLOADS if w in out["wall_s"])
    out["budget_estimate_s"] = {"runs": n, "sum_of_median_walls_s": round(est),
                                "builds_s": 60, "limit_s": 3420}
    with open(os.path.join(args.out, "baseline.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out["agreement"], indent=1))


if __name__ == "__main__":
    main()
