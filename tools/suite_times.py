#!/usr/bin/env python3
"""Per-suite wall times of the last sbt test run.

    python3 tools/suite_times.py [REPORT_DIR] [OUT_MD]

Reads sbt's JUnit reports (default target/test-reports/TEST-*.xml) and
writes a Markdown table (default docs/SUITE_TIMES.md): one row per suite,
slowest first, with its test count, failures + errors, skips and wall time,
then the totals. Run it from the repository root right after `sbt test`
or `sbt "testOnly *"`; it reports only the suites that run wrote.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    rows = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in [root] if root.tag == "testsuite" else root.iter("testsuite"):
            rows.append({
                "name": s.get("name", os.path.basename(path)),
                "tests": int(s.get("tests", 0)),
                "failed": int(s.get("failures", 0)) + int(s.get("errors", 0)),
                "skipped": int(s.get("skipped", 0)),
                "secs": max(0.0, float(s.get("time", 0.0))),
            })
    return sorted(rows, key=lambda r: (-r["secs"], r["name"]))


def render(rows):
    total = sum(r["secs"] for r in rows)
    out = ["# Per-suite test times", "",
           "Written by `tools/suite_times.py` from the JUnit reports of one",
           "`sbt \"testOnly *\"` run; suites sorted by wall time, slowest first.", "",
           "| suite | tests | failed | skipped | wall s | share |",
           "|---|---:|---:|---:|---:|---:|"]
    for r in rows:
        share = r["secs"] / total if total else 0.0
        out.append(f"| {r['name']} | {r['tests']} | {r['failed']} | {r['skipped']} "
                   f"| {r['secs']:.1f} | {share:.1%} |")
    out.append(f"| **total ({len(rows)} suites)** | {sum(r['tests'] for r in rows)} "
               f"| {sum(r['failed'] for r in rows)} | {sum(r['skipped'] for r in rows)} "
               f"| {total:.1f} | |")
    return "\n".join(out) + "\n"


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    out_md = argv[2] if len(argv) > 2 else "docs/SUITE_TIMES.md"
    rows = suites(report_dir)
    if not rows:
        print(f"no TEST-*.xml reports under {report_dir}", file=sys.stderr)
        return 1
    with open(out_md, "w") as f:
        f.write(render(rows))
    print(f"{len(rows)} suites, {sum(r['secs'] for r in rows):.1f} s -> {out_md}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
