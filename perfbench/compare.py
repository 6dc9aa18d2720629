#!/usr/bin/env python3
"""Paired comparison of a parent and a change from their run records.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --jobs RECORD_A RECORD_B

Each directory holds run records that run.py wrote (.bench_build/records/)
for untraced runs of both commits, made with the same benchmark code and
--seconds, alternating which commit runs first. Runs of one workload are
paired in the order they started.

For every workload and end-to-end metric in BENCHMARK.json it prints the
median and quartiles of both sides and a verdict:

- improved: at least 10 pairs that alternate, the change wins at least 90%
  of them (ties count for neither), and the medians differ by more than the
  parent's interquartile range;
- worse: the change's median is worse than the parent's by more than the
  metric's bound;
- unresolved: the parent's own spread is wider than the bound, unless every
  run of the change reads better than every run of the parent;
- no worse: otherwise.

Runs that were not correct, and executions that failed, are counted per
side and workload. When the change has more of either than the parent,
every metric of that workload reads worse, whatever its timings: a gain
does not count if more operations fail. Timings come from correct runs
only; a side with none gets no timing, and its rows read unresolved unless
the failure rule already says worse.

The last line is a JSON summary of the rows, ending in "claim": null: the
tool reports verdicts, and a change states its own claim.

--jobs checks that two traced records scheduled exactly the same number of
Spark jobs per query.
"""
import argparse
import glob
import json
import os
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
MIN_WIN_SHARE = 0.9


def verdict(parent, change, better, bound, alternating=True):
    """Verdict for one metric. `parent` and `change` are per-run values in
    pair order; `better` is "lower" or "higher"; `bound` is the share of the
    parent's median by which the change may be worse."""
    sign = 1 if better == "lower" else -1
    mp, mc = stats.median(parent), stats.median(change)
    q1, q3 = stats.quartiles(parent)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    gain = sign * (mp - mc)
    if (alternating and len(pairs) >= MIN_PAIRS
            and wins >= MIN_WIN_SHARE * len(pairs) and gain > q3 - q1):
        return "improved"
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if (q3 - q1) / abs(mp) > bound and not all_better:
        return "unresolved"
    if -gain / abs(mp) > bound:
        return "worse"
    return "no worse"


def load(path):
    """Every untraced run record in `path` (a directory or one file),
    correct or not."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("stamps", {}).get("trace") == 0:
            out.append(r)
    return out


def failures(runs):
    """Runs that were not correct and executions that failed, over `runs`."""
    return {"runs": len(runs),
            "incorrect_runs": sum(1 for r in runs if not r.get("correct")),
            "failed": sum(1 for r in runs for e in r["executions"] if not e["ok"]),
            "attempted": sum(len(r["executions"]) for r in runs)}


def alternates(parent, change):
    """True when the pairs alternate which side ran first."""
    firsts = [p["stamps"]["started_us"] < c["stamps"]["started_us"]
              for p, c in zip(parent, change)]
    return all(a != b for a, b in zip(firsts, firsts[1:]))


def compare(parent_runs, change_runs, spec):
    rows = []
    workloads = sorted({r["stamps"]["workload"] for r in parent_runs + change_runs})
    for wl in workloads:
        def side(runs):
            return [r for r in runs if r["stamps"]["workload"] == wl]
        pall, call = side(parent_runs), side(change_runs)
        pf, cf = failures(pall), failures(call)
        more_failures = (cf["failed"] > pf["failed"]
                         or cf["incorrect_runs"] > pf["incorrect_runs"])
        p = sorted((r for r in pall if r.get("correct")),
                   key=lambda r: r["stamps"]["started_us"])
        c = sorted((r for r in call if r.get("correct")),
                   key=lambda r: r["stamps"]["started_us"])
        n = min(len(p), len(c))
        p, c = p[:n], c[:n]
        alt = n > 0 and alternates(p, c)
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in p]
            cv = [r["metrics"][m["name"]]["value"] for r in c]
            sign = 1 if m["better"] == "lower" else -1
            if more_failures:
                v = "worse"
            elif n == 0:
                v = "unresolved"
            else:
                v = verdict(pv, cv, m["better"], m["bound"], alt)
            rows.append({
                "workload": wl, "metric": m["name"], "unit": m["unit"],
                "pairs": n, "alternating": alt,
                "parent": [stats.median(pv), *stats.quartiles(pv)] if n else None,
                "change": [stats.median(cv), *stats.quartiles(cv)] if n else None,
                "win_share": (sum(1 for a, b in zip(pv, cv) if sign * (a - b) > 0) / n
                              if n else None),
                "parent_failures": pf, "change_failures": cf,
                "verdict": v})
    return rows


def job_counts(record):
    """Jobs per query and pass from a traced record."""
    counters = record["counters"]
    return {(e["pass"], e["query"]): counters.get(str(e["span"]), {}).get("scheduler.jobs", 0)
            for e in record["executions"] if e["phase"] == "traced"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--jobs", nargs=2, metavar="RECORD")
    args = ap.parse_args()
    if args.jobs:
        a, b = ({q: n for (_, q), n in job_counts(json.load(open(f))).items()}
                for f in args.jobs)
        same = True
        for q in sorted(set(a) | set(b)):
            ok = a.get(q) == b.get(q)
            same &= ok
            print("%-32s %6s %6s %s" % (q, a.get(q), b.get(q), "" if ok else "DIFFERS"))
        print(json.dumps({"jobs_repeat": same}))
        return 0 if same else 1
    if not (args.parent and args.change):
        ap.error("give PARENT_DIR and CHANGE_DIR, or --jobs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(args.parent), load(args.change), spec)
    print("%-14s %-18s %5s  %-30s %-30s %5s  %s" % (
        "workload", "metric", "pairs", "parent median [q1, q3]",
        "change median [q1, q3]", "wins", "verdict"))
    def cell(q, unit):
        return "%.4g [%.4g, %.4g] %s" % (*q, unit) if q else "-"

    for r in rows:
        pf, cf = r["parent_failures"], r["change_failures"]
        notes = [] if r["alternating"] else ["pairs do not alternate"]
        if pf["incorrect_runs"] or cf["incorrect_runs"] or pf["failed"] or cf["failed"]:
            notes.append("incorrect runs %d/%d vs %d/%d, failed executions %d/%d vs %d/%d"
                         % (pf["incorrect_runs"], pf["runs"], cf["incorrect_runs"],
                            cf["runs"], pf["failed"], pf["attempted"],
                            cf["failed"], cf["attempted"]))
        print("%-14s %-18s %5d  %-30s %-30s %4s  %s%s" % (
            r["workload"], r["metric"], r["pairs"],
            cell(r["parent"], r["unit"]), cell(r["change"], r["unit"]),
            "-" if r["win_share"] is None else "%.0f%%" % (100 * r["win_share"]),
            r["verdict"], "".join(" (%s)" % n for n in notes)))
    print(json.dumps({"rows": rows, "claim": None}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
