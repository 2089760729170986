#!/usr/bin/env python3
"""Derive a committed test-evidence doc from sbt's JUnit XML reports.

VERDICT r7 #2: the round closed with no proof of a complete green
`sbt test` — the last run aborted mid-flight and nothing durable
recorded which suites had passed. This tool turns the per-suite XML in
target/test-reports/ into one mechanically-sourced markdown artifact
(same provenance discipline as tools/bench_notes.py): every figure
comes from the reports, and the tool REFUSES to write the doc if any
suite failed/errored, if the report set looks stale or partial, or if a
report names a suite no longer declared (as a class or object) under
src/test/scala — a deleted suite's old XML would otherwise be counted.

Usage: python3 tools/test_summary.py [OUT.md]   (default TESTS.md)
Exit 1 (and no doc) unless every suite is green.
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET
from datetime import datetime, timezone

REPORT_DIR = "target/test-reports"
SOURCE_DIR = "src/test/scala"


def declared_suites():
    """Fully qualified names of every class/object under SOURCE_DIR."""
    names = set()
    for path in glob.glob(f"{SOURCE_DIR}/**/*.scala", recursive=True):
        with open(path) as f:
            src = f.read()
        pkg = re.search(r"^package\s+([\w.]+)", src, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        for m in re.finditer(r"^\s*(?:(?:final|abstract|sealed|case)\s+)*"
                             r"(?:class|object)\s+(\w+)", src, re.M):
            names.add(prefix + m.group(1))
    return names


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "TESTS.md"
    files = sorted(glob.glob(f"{REPORT_DIR}/TEST-*.xml"))
    if not files:
        sys.exit(f"no reports in {REPORT_DIR} — run `sbt -batch test` first")

    declared = declared_suites()
    rows, bad = [], []
    total = {"tests": 0, "failures": 0, "errors": 0, "time": 0.0}
    mtimes = []
    for f in files:
        try:
            suite = ET.parse(f).getroot()
        except ET.ParseError as e:
            bad.append(f"{f}: truncated/unparseable XML ({e})")
            continue
        name = suite.get("name", os.path.basename(f))
        if name not in declared:
            # a deleted or renamed suite's report outlives its source
            bad.append(f"{name}: stale report ({f}) — no class or object "
                       f"{name} in {SOURCE_DIR}; delete the report")
            continue
        tests = int(suite.get("tests", 0))
        failures = int(suite.get("failures", 0))
        errors = int(suite.get("errors", 0))
        time = float(suite.get("time", 0.0))
        if failures or errors:
            bad.append(f"{name}: {failures} failures, {errors} errors")
        if tests == 0:
            bad.append(f"{name}: zero tests recorded (aborted suite?)")
        rows.append((name, tests, time))
        for k, v in (("tests", tests), ("failures", failures),
                     ("errors", errors), ("time", time)):
            total[k] += v
        mtimes.append(os.path.getmtime(f))

    # a full `sbt test` rewrites every report in one pass; a spread of
    # more than ~2h means the set mixes runs and proves nothing
    span_h = (max(mtimes) - min(mtimes)) / 3600 if mtimes else 0
    if span_h > 2:
        bad.append(f"report mtimes span {span_h:.1f} h — mixed runs, rerun")

    if bad:
        print("NOT GREEN — refusing to write the evidence doc:")
        for b in bad:
            print(f"  {b}")
        sys.exit(1)

    newest = datetime.fromtimestamp(max(mtimes), tz=timezone.utc)
    lines = [
        "# TESTS — full-suite evidence",
        "",
        "Generated by `tools/test_summary.py` from `target/test-reports/`"
        " JUnit XML — never hand-typed; the tool refuses to write this file"
        " unless every suite in the set is green, non-empty, and from one"
        " run (mtime window <= 2 h).",
        "",
        f"**{len(rows)} suites, {total['tests']} tests, "
        f"{total['failures']} failures, {total['errors']} errors** — "
        f"suite wall-time sum {total['time']:.0f} s; newest report "
        f"{newest.strftime('%Y-%m-%d %H:%M:%S')} UTC.",
        "",
        "| Suite | Tests | sec |",
        "|---|---|---|",
    ]
    for name, tests, time in sorted(rows, key=lambda r: -r[2]):
        lines.append(f"| {name} | {tests} | {time:.1f} |")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"GREEN: {len(rows)} suites / {total['tests']} tests -> {out}")


if __name__ == "__main__":
    main()
