#!/usr/bin/env python3
"""graft standing-table benchmark: build, run one workload, check, report.

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source into `.bench_build/` (once
per source state), runs the workload in its own JVM at local[<cores>],
and prints every metric by name with its unit. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, timed from outside the
program; with `--trace 1` they are the per-layer ones of a traced run.
`--record FILE` also writes the full record (provenance, sizes, every
sample, per-op-kind breakdowns, spans with parent links). See README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
WORKLOADS = ("etl_hourly", "corpus_curation")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# kinds of the ops each metric pools, per workload
WRITE_KINDS = {"etl_hourly": ("merge",), "corpus_curation": ("write",)}
COMMIT_KINDS = ("merge", "dim_update", "refresh", "optimize", "vacuum", "write")
READ_KINDS = ("read",)
COMMIT_PHASES = ("version_claim", "data_write", "extra_write:changes",
                 "stats_footers", "file_sizes", "meta_sidecars",
                 "finalize_manifest", "publish_marker", "checkpoint",
                 "commit_total")
CURATION_STAGES = ("quality_filter", "exact_dedup", "neardup_pairs",
                   "keep_canonical")
FS_OPS = ("create", "rename", "delete", "list", "open", "stat", "mkdirs")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---- build ----------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("Spark not found: set SPARK_HOME to a Spark 4 / Scala 2.13 install")
    return jars


def sources():
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        if not os.path.isdir(base):
            die(f"sources not found: {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("java not found")
    return exe


def build(jars):
    """Compile the program's and the harness's Scala sources with the
    Scala compiler that ships in Spark's jars; skipped when the sources are
    unchanged since the last build. Returns the class directory and the
    sources' digest (recorded in every result's provenance)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, stamp


# ---- run ------------------------------------------------------------------

def driver_heap():
    """The Tier-1 driver heap: half the host's memory, clamped to 2..8 GB,
    unless SPARK_DRIVER_MEM says otherwise."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, classes, jars, work, record_file):
    cp = [classes, os.path.join(jars, "*")]
    if args.trace:
        cp.insert(0, os.path.join(HERE, "trace"))
    heap = driver_heap()
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cores()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:-UsePerfData", f"-Xmx{heap}", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(cp), "graftbench.Main",
        args.workload, str(args.seed), str(args.seconds),
        "1" if args.trace else "0", os.path.join(work, "run"), record_file,
    ] + list(args.conf)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # timed out, or this script was interrupted: stop the JVM and
            # everything it started, and wait for it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("workload run timed out" if code is None else
            f"workload run failed (exit {code})")
    return heap, env["SPARK_GRAFT_CPUS"]


def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None, None
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain",
                                "--untracked-files=no"],
                               capture_output=True, text=True, timeout=10)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


# ---- metrics --------------------------------------------------------------

def tail(values):
    """(value, percentile) of the highest whole percentile, from p50 up,
    with at least ten samples beyond it; (None, None) below 20 samples."""
    n = len(values)
    if n < 20:
        return None, None
    p = min(99, int(100 - 1000 / n))
    return statistics.quantiles(sorted(values), n=100, method="inclusive")[p - 1], p


def summary(values):
    if not values:
        return {"n": 0}
    t, p = tail(values)
    return {"n": len(values), "p50": statistics.median(values),
            "min": min(values), "max": max(values), "tail": t,
            "tail_percentile": p}


class Rec:
    """A run's spans: blocks of the timed loop (top level), their steps
    (hours, background rounds, passes, the semantic dedup), and the steps'
    ops (merge, refresh, each read, curate, commit...)."""

    def __init__(self, raw):
        self.raw = raw
        self.spans = raw["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        first = raw["first_timed_span"]
        self.blocks = [s for s in self.spans if s["parent"] == 0
                       and s["kind"] == "block" and s["id"] >= first]
        ids = {b["id"] for b in self.blocks}
        self.timed = [s for s in self.spans if self.top(s)["id"] in ids]
        self.steps = [s for s in self.timed if s["parent"] in ids]
        step_ids = {s["id"] for s in self.steps}
        self.ops = [s for s in self.timed if s["parent"] in step_ids]
        self.jobs = sorted((j["t0"], j["t1"]) for j in raw["jobs"])

    def top(self, s):
        while s["parent"]:
            s = self.by_id[s["parent"]]
        return s

    def block_ok(self, b):
        return all(o["ok"] for o in self.ops if self.top(o) is b)

    def dur(self, s):
        return s["t1"] - s["t0"]

    def lat(self, kinds):
        return [self.dur(s) for s in self.ops if s["kind"] in kinds and s["ok"]]

    def children(self, s):
        return [c for c in self.spans if c["parent"] == s["id"]]

    def covered(self, t0, t1):
        """Seconds of [t0, t1] during which some Spark job ran."""
        tot, cur0, cur1 = 0.0, None, None
        for a, b in self.jobs:
            a, b = max(a, t0), min(b, t1)
            if b <= a:
                continue
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    tot += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            tot += cur1 - cur0
        return tot

    def gap(self, spans):
        return sum(self.dur(s) - self.covered(s["t0"], s["t1"]) for s in spans)

    def attr(self, spans, key):
        return sum(s["attrs"].get(key, 0) or 0 for s in spans)

    def stages_in(self, spans):
        out = []
        for st in self.raw["stages"]:
            if any(s["t0"] <= st["t1"] <= s["t1"] + 0.05 for s in spans):
                out.append(st)
        return out

    def jobs_in(self, spans):
        return [j for j in self.jobs
                if any(s["t0"] <= j[0] <= s["t1"] for s in spans)]


def end_to_end(rec, workload):
    raw = rec.raw
    x = raw["extra"]
    return {
        "setup_s": (statistics.median(raw["setup_s"]) + raw["warmup_s"], "s"),
        "run_s": (med([rec.dur(b) for b in rec.blocks if rec.block_ok(b)]), "s"),
        "commit_p50_s": (med(rec.lat(WRITE_KINDS[workload])), "s"),
        "read_p50_s": (med(rec.lat(READ_KINDS)), "s"),
        "write_amp": (x.get("write_amp"), "ratio"),
        "space_amp": (x.get("space_amp"), "ratio"),
        "heap_after_gc_mb": (x.get("heap_after_gc_mb"), "MB"),
    }


def med(xs):
    return statistics.median(xs) if xs else None


def detail(rec, workload):
    """Every op kind's latency summary and samples, plus the named figures
    (hours, merges, refreshes, rounds, queries; passes, commits, curation,
    semantic dedup)."""
    kinds = sorted({s["kind"] for s in rec.ops})
    samples = {k: rec.lat((k,)) for k in kinds}
    by_name = {}
    for s in rec.ops:
        if s["kind"] == "read" and s["ok"]:
            by_name.setdefault(s["name"], []).append(rec.dur(s))
    steps = {}
    for s in rec.steps:
        if s["ok"]:
            steps.setdefault(s["kind"], []).append(rec.dur(s))
    samples.update({"step." + k: v for k, v in steps.items()})
    samples["block"] = [rec.dur(b) for b in rec.blocks if rec.block_ok(b)]
    named = {"run_s": summary(samples["block"])}
    if workload == "etl_hourly":
        named.update(hour=summary(steps.get("cycle", [])),
                     merge=summary(samples.get("merge", [])),
                     refresh=summary(samples.get("refresh", [])),
                     maintenance=summary(steps.get("maintenance", [])),
                     query=summary(rec.lat(READ_KINDS)))
    else:
        named.update({"pass": summary(steps.get("cycle", [])),
                      "commit": summary(samples.get("write", [])),
                      "readback": summary(samples.get("read", [])),
                      "curate": summary(samples.get("curate", [])),
                      "semdedup": summary(samples.get("semdedup", []))})
    return {"by_kind": {k: summary(v) for k, v in samples.items()},
            "reads_by_name": {n: summary(v) for n, v in sorted(by_name.items())},
            "named": named, "samples": samples}


# per-layer figures that are not divided by the block count
PER_RUN = {"spark.core_util", "spark.stage_skew", "mv.jobs_per_refresh",
           "op.pairs_out", "op.docs_kept"}


def per_layer(rec):
    """Per-layer figures of a traced run. Totals over the timed phase are
    divided by the number of blocks, so runs that finish a different
    number of blocks compare; ratios and the once-per-run counts are
    not."""
    raw = rec.raw
    m = {}
    ops, cyc = rec.ops, rec.blocks
    ncyc = max(1, len(cyc))

    def put(name, value, unit):
        m[name] = (value if name in PER_RUN else value / ncyc, unit)

    # plans
    put("plans.statements", rec.attr(cyc, "statements"), "count")
    plan_spans = [s for s in rec.timed if s["kind"] == "plan" and s["name"] == "plan"]
    put("plans.plan_s", sum(rec.dur(s) for s in plan_spans), "s")
    # sources: commit
    writes = [s for s in ops if s["kind"] in COMMIT_KINDS]
    put("commit.count", rec.attr(cyc, "cp.commit_total.n"), "count")
    put("commit.wall_s", rec.attr(cyc, "cp.commit_total"), "s")
    put("commit.driver_s", rec.gap(writes), "s")
    put("commit.files_written", rec.attr(writes, "files_written"), "count")
    put("commit.bytes_written", rec.attr(writes, "bytes_written"), "bytes")
    put("commit.fs_ops", sum(rec.attr(writes, "fs." + k) for k in FS_OPS), "count")
    for ph in COMMIT_PHASES:
        put(f"commit.phase.{ph.replace(':', '-')}_s", rec.attr(cyc, "cp." + ph), "s")
    # sources: read
    reads = [s for s in ops if s["kind"] in READ_KINDS]
    resolve = [c for s in reads for c in rec.children(s) if c["name"] == "resolve"]
    put("read.count", len(reads), "count")
    put("read.resolve_s", sum(rec.dur(s) for s in resolve), "s")
    put("read.files_total", rec.attr(reads, "files_total"), "count")
    put("read.files_kept", rec.attr(reads, "files_kept"), "count")
    put("read.bytes_scanned", sum(st["bytes_read"] for st in rec.stages_in(reads)), "bytes")
    put("read.fs_ops", sum(rec.attr(reads, "fs." + k) for k in FS_OPS), "count")
    put("read.feed_rows", rec.attr(reads, "feed_rows"), "count")
    put("read.history_feed_mismatch", rec.attr(reads, "history_feed_mismatch"), "count")
    # sources: materialized view
    refresh = [s for s in ops if s["kind"] == "refresh"]
    put("mv.refresh_count", len(refresh), "count")
    put("mv.refresh_driver_s", rec.gap(refresh), "s")
    put("mv.feed_rows_in", rec.attr(refresh, "feed_rows_in"), "count")
    put("mv.view_versions_added", rec.attr(refresh, "view_versions_added"), "count")
    put("mv.jobs_per_refresh",
        len(rec.jobs_in(refresh)) / len(refresh) if refresh else 0, "count")
    # operators
    curate = [s for s in ops if s["kind"] == "curate"]
    for st in CURATION_STAGES:
        put(f"op.{st}_s", rec.attr(curate, f"stage.{st}_s"), "s")
    sem = [s for s in ops if s["kind"] == "semdedup"]
    put("op.semdedup_s", sum(rec.dur(s) for s in sem), "s")
    put("op.pairs_out", raw["extra"].get("pairs_out", 0), "count")
    kept = [s["attrs"]["rows"] for s in ops if s["name"] == "readback"]
    put("op.docs_kept", kept[-1] if kept else 0, "count")
    # Spark execution, over the timed blocks
    t0 = min(c["t0"] for c in cyc)
    t1 = max(c["t1"] for c in cyc)
    stages = [st for st in raw["stages"] if t0 <= st["t1"] <= t1 + 0.05]
    busy = sum(st["busy_s"] for st in stages)
    ncores = int(raw["provenance"]["master"].strip("local[]") or 1)
    put("spark.sql_executions",
        sum(1 for e in raw["sql_execs"] if t0 <= e["t0"] <= t1), "count")
    put("spark.jobs", sum(1 for j in rec.jobs if t0 <= j[0] <= t1), "count")
    put("spark.stages", len(stages), "count")
    put("spark.tasks", sum(st["tasks"] for st in stages), "count")
    put("spark.task_busy_s", busy, "s")
    put("spark.core_util", busy / ((t1 - t0) * ncores), "ratio")
    put("spark.sched_delay_s", sum(st["sched_s"] for st in stages), "s")
    put("spark.gc_s", sum(st["gc_s"] for st in stages), "s")
    put("spark.shuffle_write_bytes", sum(st["shuffle_write"] for st in stages), "bytes")
    put("spark.spill_bytes", sum(st["spill"] for st in stages), "bytes")
    put("spark.stage_skew", max([st["max_s"] / st["median_s"] for st in stages
                                 if st["tasks"] >= 2 and st["median_s"] > 0] or [1.0]),
        "ratio")
    put("spark.driver_gap_s", rec.gap(ops), "s")
    # JVM: compiler, collector and process CPU over the timed blocks
    put("jvm.jit_s", rec.attr(cyc, "jvm.jit_ms") / 1e3, "s")
    put("jvm.gc_s", rec.attr(cyc, "jvm.gc_ms") / 1e3, "s")
    put("jvm.cpu_s", rec.attr(cyc, "jvm.cpu_ms") / 1e3, "s")
    # filesystem, every top-level call over the timed blocks
    for k in FS_OPS:
        put(f"fs.{k}", rec.attr(cyc, "fs." + k), "count")
    put("fs.ops", sum(rec.attr(cyc, "fs." + k) for k in FS_OPS), "count")
    return m


def layers_by_kind(rec):
    """Per op kind (merge, refresh, each read, ...): wall, self time, driver
    gap, jobs, stages, tasks, filesystem ops, commit phases."""
    out = {}
    groups = {}
    for s in rec.ops:
        key = s["name"] if s["kind"] == "read" else s["kind"]
        groups.setdefault(key, []).append(s)
    for key, ss in sorted(groups.items()):
        kids = [c for s in ss for c in rec.children(s)]
        d = {"n": len(ss), "wall_s": sum(rec.dur(s) for s in ss),
             "self_s": sum(rec.dur(s) for s in ss) - sum(rec.dur(c) for c in kids),
             "driver_gap_s": rec.gap(ss), "jobs": len(rec.jobs_in(ss))}
        st = rec.stages_in(ss)
        d.update(stages=len(st), tasks=sum(x["tasks"] for x in st),
                 task_busy_s=sum(x["busy_s"] for x in st))
        for k in FS_OPS:
            d["fs." + k] = rec.attr(ss, "fs." + k)
        for ph in COMMIT_PHASES:
            v = rec.attr(ss, "cp." + ph)
            if v:
                d["commit.phase." + ph] = v
        out[key] = d
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--conf", action="append", default=[],
                    help="Spark conf override k=v (repeatable); none by default")
    ap.add_argument("--record", help="write the full run record (JSON) here")
    args = ap.parse_args()
    # a SIGTERM unwinds like an exit, so the JVM is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes, stamp = build(jars)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record_file = os.path.join(work, "record.json")
        heap, cpus = run_jvm(args, classes, jars, work, record_file)
        with open(record_file) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw.get("error"):
        die(f"workload error: {raw['error']}")
    rec = Rec(raw)
    metrics = per_layer(rec) if args.trace else end_to_end(rec, args.workload)
    head, dirty = git_head()
    prov = dict(raw["provenance"])
    prov.update(head=head, dirty=dirty, source_sha256=stamp,
                driver_heap=heap, spark_graft_cpus=cpus,
                spark_graft_cpus_env=os.environ.get("SPARK_GRAFT_CPUS"),
                seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
                python=sys.version.split()[0])
    full = {"workload": args.workload, "provenance": prov, "sizes": raw["sizes"],
            "session_s": raw["session_s"], "setup_repeats_s": raw["setup_s"],
            "warmup_s": raw["warmup_s"], "checks": raw["checks"],
            "attempted": raw["attempted"], "failed": raw["failed"],
            "fail_frac": raw["failed"] / max(1, raw["attempted"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "latency": detail(rec, args.workload), "extra": raw["extra"]}
    if args.trace:
        full["by_kind"] = layers_by_kind(rec)
    if args.record:
        out = dict(full, spans=raw["spans"], jobs=raw["jobs"], stages=raw["stages"],
                   sql_execs=raw["sql_execs"], commit_profile=raw["commit_profile"])
        with open(args.record, "w") as fh:
            json.dump(out, fh, indent=1)
    missing = [k for k, (v, _) in metrics.items() if v is None]
    if missing:
        die(f"no samples for {', '.join(missing)}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    correct = all(c["ok"] for c in raw["checks"]) and bool(raw["checks"])
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"],
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
