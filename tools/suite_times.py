#!/usr/bin/env python3
"""Per-suite and per-test times of one sbt test run, as JSON.

Reads the JUnit XML reports sbt writes (target/test-reports/TEST-*.xml)
and prints one JSON object: per suite its seconds, test count and
failures (failures + errors), per test its seconds and whether it
failed, and the run's totals. `span_s` is the time from the first suite
start to the last suite end: a report's timestamp is the time its suite
ended, so a suite started `time` seconds before it (one forked JVM runs
the suites one after another). Given the sbt log of the
run too, `sbt_total_s` is the command's own "Total time" line.

Run: python3 tools/suite_times.py target/test-reports [sbt.log] > times.json
"""
import datetime
import glob
import json
import os
import re
import sys
import xml.etree.ElementTree as ET


def suite_of(path):
    root = ET.parse(path).getroot()
    tests = {}
    for case in root.iter("testcase"):
        failed = case.find("failure") is not None or case.find("error") is not None
        tests[case.get("name")] = {"s": float(case.get("time", 0)), "failed": failed}
    end = datetime.datetime.fromisoformat(root.get("timestamp"))
    seconds = float(root.get("time", 0))
    return root.get("name"), {
        "s": seconds,
        "tests": int(root.get("tests", 0)),
        "failures": int(root.get("failures", 0)) + int(root.get("errors", 0)),
        "per_test": tests,
    }, end - datetime.timedelta(seconds=seconds), end


def table(reports_dir, sbt_log=None):
    suites, starts, ends = {}, [], []
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        name, suite, start, end = suite_of(path)
        suites[name] = suite
        starts.append(start)
        ends.append(end)
    out = {
        "suites": suites,
        "suite_s": round(sum(s["s"] for s in suites.values()), 3),
        "tests": sum(s["tests"] for s in suites.values()),
        "failures": sum(s["failures"] for s in suites.values()),
        "span_s": (max(ends) - min(starts)).total_seconds() if suites else 0.0,
    }
    if sbt_log:
        with open(sbt_log, errors="replace") as f:
            totals = re.findall(r"Total time: (\d+) s", f.read())
        if totals:
            out["sbt_total_s"] = int(totals[-1])
    return out


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    print(json.dumps(table(*sys.argv[1:]), indent=1, sort_keys=True))
