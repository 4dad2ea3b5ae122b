#!/usr/bin/env python3
"""Summarize one sbt test run from its JUnit reports.

Usage:
    since=$(date +%s); sbt -batch test; python3 scripts/tier1_summary.py --since "$since"

Reads target/test-reports/TEST-*.xml, counting only report files written at
or after --since (epoch seconds), so a suite left over from an earlier run is
not counted. Prints "N pass / M fail", then each failure. The five tests
that read the reference fixtures are listed apart, since they fail wherever
those fixtures are not mounted. Exits 1 when any other test failed (or no
report was found), 0 otherwise.

The script only reports: it skips, filters and changes no test.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

# Tests that read fixtures absent from this checkout (see ROADMAP.md,
# "Tier-1 is red on this host for a missing fixture").
FIXTURE_ABSENT = {
    "graft.operators.GoldenBonusPipelineSpec::MetricsIngest reproduces the reference's combined_table.parquet",
    "graft.operators.GoldenBonusPipelineSpec::csvExport reproduces the reference's committed combined_table.csv",
    "graft.operators.GoldenBonusPipelineSpec::csvExport reproduces the reference's combined_detail_per_file.csv",
    "graft.operators.GoldenBonusPipelineSpec::flatten matches the reference's per-file detail rows",
    "graft.pipelines.RetailHourlySpec::bonus pipeline reproduces the reference's committed final CSV",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--since", type=float, required=True,
                    help="epoch seconds; older report files are ignored")
    ap.add_argument("--reports", default="target/test-reports",
                    help="JUnit report dir (default: %(default)s)")
    args = ap.parse_args()

    files = [p for p in sorted(glob.glob(os.path.join(args.reports, "TEST-*.xml")))
             if os.path.getmtime(p) >= args.since]
    stale = len(glob.glob(os.path.join(args.reports, "TEST-*.xml"))) - len(files)
    passed, failed = [], []
    for path in files:
        for case in ET.parse(path).getroot().iter("testcase"):
            name = f"{case.get('classname')}::{case.get('name')}"
            if case.find("skipped") is not None:
                continue
            bad = case.find("failure")
            if bad is None:
                bad = case.find("error")
            if bad is None:
                passed.append(name)
            else:
                msg = (bad.get("message") or "").strip()
                failed.append((name, msg.splitlines()[0][:200] if msg else ""))

    print(f"{len(passed)} pass / {len(failed)} fail "
          f"({len(files)} suites counted, {stale} stale report(s) ignored)")
    known = [(n, m) for n, m in failed if n in FIXTURE_ABSENT]
    other = [(n, m) for n, m in failed if n not in FIXTURE_ABSENT]
    if other:
        print("\nFAILED:")
        for n, m in other:
            print(f"  {n}\n      {m}")
    if known:
        print("\nFAILED, reference fixture absent:")
        for n, _ in known:
            print(f"  {n}")
    if not files:
        print("no report written since --since; did the run happen?", file=sys.stderr)
        return 1
    return 1 if other else 0


if __name__ == "__main__":
    sys.exit(main())
