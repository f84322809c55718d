#!/usr/bin/env python3
"""Per-spec cost table of the last ScalaTest run (dev-only).

Reads the JUnit XML reports sbt writes to target/test-reports/
(one TEST-<spec>.xml per suite) and prints, most expensive first, each
spec's test count, seconds and share of the run, as a markdown table.

Two seconds columns, because the recorded one is not always right:
  - `recorded`: the suite's `time` attribute. ScalaCheck suites record
    no durations (GraftProperties reads about 0 s while it runs for
    minutes).
  - `wall`: the time since the previous report was written. sbt runs
    the suites one after another in one forked JVM and writes each
    report as its suite ends, so the gap between the files' mtimes is
    the suite's wall time, its session and fixture set-up included (the
    reports' own `timestamp` attribute has whole seconds only, too
    coarse to order suites that end in the same second). The first
    suite has no previous report: pass `--start` with the time the test
    command started (ISO, local time) to measure it.
Neither column includes compilation or JVM start: compare the total
against the wall time of the sbt command that produced the reports.
sbt overwrites only the reports of the suites it runs, so empty the
directory before a full run whose table you mean to keep.

A ScalaCheck suite that writes `PROPTIMES-<suite>.tsv` next to the
reports (one `name<TAB>seconds<TAB>passed` line per property, from each
property's `Test.Result.time`; GraftProperties does) gets a second
table: its properties, most expensive first.

Usage:
  python3 tools/testcost.py [report_dir] [--start 2026-01-01T00:00:00]
  python3 tools/testcost.py --selftest
"""
import argparse
import datetime
import os
import sys
import tempfile
import xml.etree.ElementTree as ET


def read_reports(report_dir, start=None):
    """[(spec, tests, failed, recorded_s, wall_s or None)], wall from the
    gaps between consecutive report mtimes (the first from `start`).
    """
    suites = []
    for name in sorted(os.listdir(report_dir)):
        if not (name.startswith("TEST-") and name.endswith(".xml")):
            continue
        s = ET.parse(os.path.join(report_dir, name)).getroot()
        failed = sum(int(s.get(k, "0")) for k in ("errors", "failures"))
        ended = datetime.datetime.fromtimestamp(
            os.stat(os.path.join(report_dir, name)).st_mtime_ns / 1e9)
        suites.append((ended, s.get("name", name[5:-4]), int(s.get("tests", "0")),
                       failed, float(s.get("time", "0"))))
    suites.sort()
    rows, prev = [], start
    for ended, spec, tests, failed, recorded in suites:
        wall = (ended - prev).total_seconds() if prev is not None else None
        rows.append((spec, tests, failed, recorded, wall))
        prev = ended
    return rows


def table(rows):
    """The markdown table, most expensive spec first, with a total row."""
    def cost(r):
        return r[4] if r[4] is not None else r[3]
    total = sum(cost(r) for r in rows)
    lines = ["| spec | tests | failed | recorded s | wall s | share |",
             "|---|---:|---:|---:|---:|---:|"]
    for r in sorted(rows, key=lambda r: (-cost(r), r[0])):
        spec, tests, failed, recorded, wall = r
        share = cost(r) / total if total > 0 else 0.0
        wall_s = "—" if wall is None else f"{wall:.1f}"
        lines.append(f"| {spec} | {tests} | {failed} | {recorded:.1f} | {wall_s} | {share:.1%} |")
    walls = [r[4] for r in rows if r[4] is not None]
    lines.append(f"| **total** | {sum(r[1] for r in rows)} | {sum(r[2] for r in rows)} "
                 f"| {sum(r[3] for r in rows):.1f} | {sum(walls):.1f} | 100.0% |")
    return "\n".join(lines)


def read_prop_times(report_dir):
    """{suite: [(property, seconds, passed)]} from PROPTIMES-<suite>.tsv."""
    out = {}
    for name in sorted(os.listdir(report_dir)):
        if not (name.startswith("PROPTIMES-") and name.endswith(".tsv")):
            continue
        rows = []
        with open(os.path.join(report_dir, name)) as f:
            for line in f:
                parts = line.rstrip("\n").split("\t")
                if len(parts) == 3:
                    rows.append((parts[0], float(parts[1]), parts[2] == "true"))
        out[name[len("PROPTIMES-"):-len(".tsv")]] = rows
    return out


def prop_table(suite, rows):
    """The per-property markdown table of one suite, most expensive first."""
    total = sum(r[1] for r in rows)
    lines = [f"| {suite} property | s | passed | share |", "|---|---:|---|---:|"]
    for prop, secs, passed in sorted(rows, key=lambda r: (-r[1], r[0])):
        share = secs / total if total > 0 else 0.0
        lines.append(f"| {prop} | {secs:.1f} | {'yes' if passed else 'NO'} | {share:.1%} |")
    lines.append(f"| **total** ({len(rows)} properties) | {total:.1f} | | 100.0% |")
    return "\n".join(lines)


def selftest():
    def suite(name, tests, failures, time):
        return (f'<testsuite name="{name}" tests="{tests}" errors="0" failures="{failures}" '
                f'skipped="0" time="{time}"></testsuite>')
    start = datetime.datetime.fromisoformat("2026-01-01T00:00:00")
    planted = {  # name: (body, seconds after start the report was written)
        # a ScalaCheck-style suite: ran 60 s, recorded nothing
        "TEST-graft.Props.xml": (suite("graft.Props", 4, 0, "-0.004"), 60),
        # ends 0.25 s before the next suite, in the same whole second
        "TEST-graft.SlowSpec.xml": (suite("graft.SlowSpec", 3, 1, "29.5"), 89.75),
        "TEST-graft.FastSpec.xml": (suite("graft.FastSpec", 7, 0, "0.2"), 90),
        "unrelated.txt": ("not a report", 5),
    }
    with tempfile.TemporaryDirectory() as d:
        for name, (body, after) in planted.items():
            path = os.path.join(d, name)
            with open(path, "w") as f:
                f.write(body)
            t = start.timestamp() + after
            os.utime(path, (t, t))
        rows = read_reports(d, start)
        no_start = read_reports(d)
    assert rows == [("graft.Props", 4, 0, -0.004, 60.0),
                    ("graft.SlowSpec", 3, 1, 29.5, 29.75),
                    ("graft.FastSpec", 7, 0, 0.2, 0.25)], rows
    out = table(rows).splitlines()
    assert out[2] == "| graft.Props | 4 | 0 | -0.0 | 60.0 | 66.7% |", out[2]
    assert out[3] == "| graft.SlowSpec | 3 | 1 | 29.5 | 29.8 | 33.1% |", out[3]
    assert out[4] == "| graft.FastSpec | 7 | 0 | 0.2 | 0.2 | 0.3% |", out[4]
    assert out[5] == "| **total** | 14 | 1 | 29.7 | 90.0 | 100.0% |", out[5]
    # without --start the first suite falls back to its recorded seconds
    assert no_start[0] == ("graft.Props", 4, 0, -0.004, None), no_start[0]
    assert "| graft.Props | 4 | 0 | -0.0 | — |" in table(no_start)
    assert table([]).splitlines()[-1] == "| **total** | 0 | 0 | 0.0 | 0.0 | 100.0% |"
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "PROPTIMES-graft.Props.tsv"), "w") as f:
            f.write("graft.fast\t0.5\ttrue\ngraft.slow\t59.5\tfalse\nnot a row\n")
        props = read_prop_times(d)
    assert props == {"graft.Props": [("graft.fast", 0.5, True),
                                     ("graft.slow", 59.5, False)]}, props
    out = prop_table("graft.Props", props["graft.Props"]).splitlines()
    assert out[2] == "| graft.slow | 59.5 | NO | 99.2% |", out[2]
    assert out[3] == "| graft.fast | 0.5 | yes | 0.8% |", out[3]
    assert out[4] == "| **total** (2 properties) | 60.0 | | 100.0% |", out[4]
    print("selftest OK")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--start", type=datetime.datetime.fromisoformat,
                    help="when the test command started (ISO), to time the first suite")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv[1:])
    if args.selftest:
        selftest()
        return 0
    rows = read_reports(args.report_dir, args.start)
    if not rows:
        print(f"no TEST-*.xml reports in {args.report_dir}", file=sys.stderr)
        return 1
    print(table(rows))
    for suite, props in read_prop_times(args.report_dir).items():
        print()
        print(prop_table(suite, props))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
