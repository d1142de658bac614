#!/usr/bin/env python3
"""A/B pairs of perfbench runs: a parent checkout against a changed one.

    python3 scripts/perfbench_ab.py --parent A --change B \\
        --workload backfill_megaconv --workload backfill_longtail \\
        --seeds 901-910 [--seconds 3] [--log pairs.jsonl]
    python3 scripts/perfbench_ab.py --report pairs.jsonl

A and B are two separate copies of the repository (for the parent:
`git archive <parent> | tar -x -C A`). Each pair runs
`python3 perfbench/run.py --workload W --seed S --seconds 3 --trace 0` once
in each copy, on the same seed, one after the other; which side runs first
alternates from pair to pair, so a drift of the host load favours neither
side. The first run in a copy also builds it; a warm-up run per copy
(seed 0, not reported) takes that build out of the pairs.

Each result line goes to the log as soon as it is in, so an interrupted
session can be reported with --report. The report prints, per workload and
metric, each side's median and quartiles, the pairs the change won (by the
metric's `better` direction in BENCHMARK.json), and whether the medians
differ by more than the parent's quartile distance.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(copy, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=copy, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}"}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(rows, better):
    by = {}
    for r in rows:
        if "error" in r["result"] or not r["result"].get("correct"):
            print(f"{r['side']} {r['workload']} seed {r['seed']}: {r['result']}")
            continue
        by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["result"]
    for workload in sorted({w for w, _ in by}):
        pairs = [v for (w, _), v in sorted(by.items()) if w == workload
                 and "parent" in v and "change" in v]
        failed = sum(v[s]["failed"] for v in pairs for s in v)
        print(f"\n{workload}: {len(pairs)} pairs, {failed} failed operations")
        print(f"  {'metric':<14}{'parent median [q1-q3]':>30}{'change median [q1-q3]':>30}"
              f"{'won':>7}  gap > parent IQR")
        for m, direction in better.items():
            a = [v["parent"]["metrics"][m]["value"] for v in pairs]
            b = [v["change"]["metrics"][m]["value"] for v in pairs]
            if not a:
                continue
            sign = 1 if direction == "higher" else -1
            won = sum(sign * (y - x) > 0 for x, y in zip(a, b))
            (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
            print(f"  {m:<14}{a2:>12.4g} [{a1:.4g}-{a3:.4g}]{b2:>12.4g} [{b1:.4g}-{b3:.4g}]"
                  f"{won:>4}/{len(pairs):<3} {abs(b2 - a2) > a3 - a1}"
                  f"  ({100 * (b2 - a2) / a2:+.1f}%)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="901-910")
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--log", default="perfbench_ab.jsonl")
    ap.add_argument("--report", help="only report the pairs of this log")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                       "..", "BENCHMARK.json")))
    better = {d["name"]: d["better"] for d in spec["end_to_end"]}
    if a.report:
        report([json.loads(line) for line in open(a.report)], better)
        return
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are needed to run pairs")
    sides = {"parent": a.parent, "change": a.change}
    for side, copy in sides.items():
        print(f"warm-up build and run: {side}", file=sys.stderr, flush=True)
        run(copy, a.workload[0], 0, a.seconds)
    rows = []
    with open(a.log, "a") as log:
        for i, seed in enumerate(seeds(a.seeds)):
            for workload in a.workload:
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    r = {"side": side, "workload": workload, "seed": seed,
                         "result": run(sides[side], workload, seed, a.seconds)}
                    print(json.dumps(r), file=log, flush=True)
                    print(f"{side} {workload} seed {seed}: "
                          f"{json.dumps(r['result'].get('metrics', r['result']))}",
                          file=sys.stderr, flush=True)
                    rows.append(r)
    report(rows, better)


if __name__ == "__main__":
    main()
