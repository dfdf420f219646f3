#!/usr/bin/env python3
"""Diff the structural counts of two traced runs, span by span.

    python3 pipebench/tracediff.py pipebench/work/traces/daily_cron-1.json other.json

A traced run (`run.py --trace 1`) keeps its spans in
pipebench/work/traces/<workload>-<seed>.json. Spans that repeat (one per
operation) are compared by median. Counts (jobs, tasks, files, bytes) repeat
exactly between runs of the same program and inputs, so a nonzero delta in
them is a change of plan or layout, not noise; times are shown for context.
With --sql the SQL executions of each span are listed side by side too.
"""
import argparse
import json
import statistics

COUNTS = ["jobs", "tasks", "files_read", "bytes_read", "shuffle_bytes",
          "files_written", "bytes_written"]
TIMES = ["s", "driver_gap_s"]


def load(path):
    with open(path) as f:
        spans = json.load(f)["spans"]
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return by


def med(spans, key):
    return statistics.median(s[key] for s in spans)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--sql", action="store_true")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    changed = 0
    print(f"{'span.counter':34s} {'a':>14s} {'b':>14s} {'b-a':>14s}")
    for name in list(a) + [n for n in b if n not in a]:
        for key in COUNTS + TIMES:
            va = med(a[name], key) if name in a else None
            vb = med(b[name], key) if name in b else None
            delta = "" if va is None or vb is None else f"{vb - va:+.6g}"
            mark = "*" if key in COUNTS and va != vb else " "
            changed += mark == "*"
            print(f"{mark}{name + '.' + key:33s} {va!s:>14s} {vb!s:>14s} {delta:>14s}")
        if args.sql:
            for side, spans in (("a", a.get(name, [])), ("b", b.get(name, []))):
                for q in (spans[0]["sql"] if spans else []):
                    print(f"    {side} {q['description'][:60]:60s} jobs={q['jobs']} "
                          f"files_read={q['files_read']} files_written={q['files_written']} "
                          f"s={q['s']}")
    print(f"{changed} structural counts differ")


if __name__ == "__main__":
    main()
