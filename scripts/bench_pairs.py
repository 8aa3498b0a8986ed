#!/usr/bin/env python3
"""Summarise paired erbench runs of a parent and a change checkout.

Usage (from the repository root):
    python3 scripts/bench_pairs.py PARENT.jsonl CHANGE.jsonl [--benchmark BENCHMARK.json]

Each file holds the last two stdout lines of every `erbench/run.py` call of
one side (the info line, then the result line), appended run after run, as
the recipe in .claude/skills/verify/SKILL.md writes them. Runs are paired
by (workload, seed).

For every workload and every end-to-end metric of BENCHMARK.json it prints
the parent's and the change's median, the parent's interquartile range over
its median, how many pairs the change wins, and a verdict:
  ok          the change's median is within the metric's bound of the parent's
  worse       the change's median is worse than the parent's by more than the bound
  unresolved  the parent's IQR/median exceeds the bound, so the runs cannot tell

Exits 1 when any info line is not `digest_check: "recorded"`, has a digest
other than its expected one or lists problems, when the change fails more
runs than the parent, or when any metric is `worse`. Standard library only.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def read_runs(path):
    """(info, result) per run; a result line without an info line before
    it, or an info line without a result, is a failed run (info or None)."""
    runs, info = [], None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            if "metrics" in obj or "correct" in obj:
                runs.append((info, obj))
                info = None
            else:
                if info is not None:
                    runs.append((info, None))
                info = obj
    if info is not None:
        runs.append((info, None))
    return runs


def check_info(side, info):
    """Problems with one run's info line, as printable strings."""
    if info is None:
        return [f"{side}: result line without an info line"]
    tag = f"{side} {info.get('workload')} seed {info.get('seed')}"
    out = []
    if info.get("digest_check") != "recorded":
        out.append(f"{tag}: digest_check is {info.get('digest_check')!r}, not 'recorded'")
    if info.get("digest") != info.get("expected_digest"):
        out.append(f"{tag}: digest {info.get('digest')} != expected {info.get('expected_digest')}")
    if info.get("problems"):
        out.append(f"{tag}: problems {info['problems']}")
    return out


def failed(result):
    return result is None or not result.get("correct") or result.get("failed", 0) > 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]

    bad = []
    sides = {}
    for side, path in (("parent", a.parent), ("change", a.change)):
        runs = read_runs(path)
        for info, _ in runs:
            bad += check_info(side, info)
        sides[side] = runs

    by_key = {}  # (workload, seed) -> {side: result}
    fails = {"parent": 0, "change": 0}
    for side, runs in sides.items():
        for info, result in runs:
            if failed(result):
                fails[side] += 1
            elif info is not None:
                by_key.setdefault((info["workload"], info["seed"]), {})[side] = result

    print(f"failed runs: parent {fails['parent']}, change {fails['change']}")
    if fails["change"] > fails["parent"]:
        bad.append(f"change fails {fails['change']} runs, parent {fails['parent']}")

    header = ("workload", "metric", "parent", "change", "p_iqr/med", "wins", "verdict")
    print("%-10s %-14s %12s %12s %10s %7s  %s" % header)
    for workload in sorted({w for w, _ in by_key}):
        pairs = [v for (w, _), v in sorted(by_key.items())
                 if w == workload and len(v) == 2]
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            vals = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                    for p, c in ((v["parent"], v["change"]) for v in pairs)
                    if name in p["metrics"] and name in c["metrics"]]
            if not vals:
                print("%-10s %-14s %12s" % (workload, name, "n/a"))
                continue
            par = [p for p, _ in vals]
            chg = [c for _, c in vals]
            pm, cm = statistics.median(par), statistics.median(chg)
            q1, q3 = quartiles(par)
            spread = (q3 - q1) / abs(pm) if pm else 0.0
            wins = sum(1 for p, c in vals if (c < p if lower else c > p))
            loss = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
            if loss > bound:
                verdict = "worse"
                bad.append(f"{workload} {name}: median {pm:.4g} -> {cm:.4g} "
                           f"({loss:+.1%} worse, bound {bound:.0%})")
            elif spread > bound:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print("%-10s %-14s %12.4g %12.4g %10.3f %4d/%-2d  %s"
                  % (workload, name, pm, cm, spread, wins, len(vals), verdict))

    for b in bad:
        print("FAIL: " + b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
