#!/usr/bin/env python3
"""Report test time from the JUnit XML files sbt writes to
target/test-reports/TEST-*.xml: the whole run's total, per-suite totals
(slowest first) and the slowest N test cases.

Given a second reports dir (the parent's run), every suite and the
total are printed as `parent -> change` instead, with suites that only
one side ran marked `-`. `--suites A,B` limits the per-suite table to
the named suites (simple or fully qualified names).

Usage: python3 tools/test_times.py [REPORTS_DIR] [--vs PARENT_DIR]
                                   [--top N] [--suites A,B,...]
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(reports):
    """{suite: (seconds, tests, failed)} and [(seconds, suite, case)]."""
    files = sorted(glob.glob(os.path.join(reports, "TEST-*.xml")))
    if not files:
        sys.exit(f"no TEST-*.xml under {reports}")
    suites, cases = {}, []
    for path in files:
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name")
            failed = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites[name] = (float(s.get("time", 0)), int(s.get("tests", 0)),
                            failed)
            for c in s.iter("testcase"):
                cases.append((float(c.get("time", 0)), name, c.get("name")))
    return suites, cases


def short(suite):
    return suite.rsplit(".", 1)[-1]


def fmt(seconds):
    return "-" if seconds is None else f"{seconds:8.1f}s"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    ap.add_argument("--vs", help="the parent run's reports dir")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--suites", default="",
                    help="comma-separated suites for the per-suite table")
    a = ap.parse_args()

    suites, cases = load(a.reports)
    base = load(a.vs)[0] if a.vs else None
    wanted = {w.strip() for w in a.suites.split(",") if w.strip()}

    def total(ss):
        return sum(t for t, _, _ in ss.values())

    def count(ss):
        return sum(n for _, n, _ in ss.values()), sum(f for _, _, f in ss.values())

    n, failed = count(suites)
    if base is None:
        print(f"total: {total(suites) / 60:.1f} min over {len(suites)} "
              f"suites, {n} tests, {failed} failed")
    else:
        bn, bf = count(base)
        print(f"total: {total(base) / 60:.1f} -> {total(suites) / 60:.1f} "
              f"min; tests {bn} -> {n}, failed {bf} -> {failed}")

    names = set(suites) | (set(base) if base else set())
    if wanted:
        names = {s for s in names if s in wanted or short(s) in wanted}
    rows = sorted(names, key=lambda s: -suites.get(s, (0,))[0])
    print("\nper suite" + (" (parent -> change)" if base else "") + ":")
    for s in rows:
        now = suites[s][0] if s in suites else None
        if base is None:
            print(f"  {fmt(now)}  {short(s)} ({suites[s][1]} tests)")
        else:
            was = base[s][0] if s in base else None
            print(f"  {fmt(was)} -> {fmt(now)}  {short(s)}")

    if a.top > 0:
        print(f"\nslowest {a.top} cases:")
        for t, s, c in sorted(cases, reverse=True)[:a.top]:
            print(f"  {t:8.1f}s  {short(s)}: {c}")


if __name__ == "__main__":
    main()
