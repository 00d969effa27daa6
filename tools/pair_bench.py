#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs over a range of seeds.

Usage: python3 tools/pair_bench.py <parent_checkout> <change_checkout> \
           --workload W --seeds A-B [--seconds 20]

For each seed S in A..B it runs

    python3 perfbench/run.py --workload W --seed S --seconds 20 --trace 0

once in each checkout, alternating which side goes first (the parent
on even positions, the change on odd ones), so host drift lands on
both sides alike. It prints each run's op_s.p50 and setup_s with the
load average and CPU steal share the run recorded, then per side the
median and interquartile range (IQR), and the median over pairs of
the change/parent ratio. Exits 1 if any run fails or reports
"correct": false.

Next to setup_s it prints the run's `prepare` seconds, read from the
`timeline_s` of the checkout's perfbench/out/<W>-seed<S>-trace0.json.
`prepare` generates the workload's input and runs no graft read or
decode code, so a setup_s that moves together with it is host drift,
not a change in the library.

From the same file it takes the workload's named step metrics and
prints their median per side, so a change to op_s.p50 shows which
step moved: upsert_s.p50, changes_s.p50, append_s.p50 and
snapshot_read_s.p50 for orders_cdc_cycle; read_samples_per_s and
materialize_rows_per_s for hello_world_train. For each of them it also
counts the pairs the change won, in the metric's own direction: the
step latencies are lower-is-better, the two rates higher-is-better.

Each checkout must be a fresh `git clone` built in place (the first
run.py call builds it). Do not copy `target/` or `perfbench/.build`
from one checkout into another: the cached classpath then points into
the other tree, and one sbt build can delete the classes the other
side runs (seen as `NoClassDefFoundError: graft/GraftSession$`).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ["op_s.p50", "setup_s"]
STEPS = {
    "orders_cdc_cycle": ["upsert_s.p50", "changes_s.p50", "append_s.p50",
                         "snapshot_read_s.p50"],
    "hello_world_train": ["read_samples_per_s", "materialize_rows_per_s"],
}
HIGHER_IS_BETTER = {"read_samples_per_s", "materialize_rows_per_s"}


def change_won(metric, change, parent):
    """True when the change's value beats the parent's (a tie is no
    win), in the metric's direction."""
    if metric in HIGHER_IS_BETTER:
        return change > parent
    return change < parent


def run(checkout, workload, seed, seconds):
    """One benchmark run; returns (result JSON or None, evidence dict)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    evidence = {}
    for line in lines:
        if line.startswith("# evidence "):
            evidence = json.loads(line[len("# evidence "):])
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        sys.stderr.write(p.stderr[-4000:])
    return result, evidence


def recorded(checkout, workload, seed):
    """The run's `prepare` stage seconds (or None) and its named step
    metrics, from the result file run.py writes."""
    path = os.path.join(checkout, "perfbench", "out",
                        f"{workload}-seed{seed}-trace0.json")
    try:
        with open(path) as fh:
            res = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None, {}
    for w in res.get("workloads", []):
        if w.get("workload") == workload:
            named = w.get("named", {})
            steps = {k: named[k]["value"] for k in STEPS.get(workload, [])
                     if named.get(k, {}).get("value") is not None}
            return w.get("timeline_s", {}).get("prepare"), steps
    return None, {}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}

    values = {s: {m: [] for m in METRICS} for s in sides}
    ratios = {m: [] for m in METRICS}
    prepares = {s: [] for s in sides}
    steps = {s: {k: [] for k in STEPS.get(args.workload, [])} for s in sides}
    step_wins = {k: [] for k in STEPS.get(args.workload, [])}
    bad = 0
    print("side    seed  op_s.p50  setup_s  prepare  "
          "load1(before/after)  steal")
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        got_steps_of = {}
        for side in order:
            res, ev = run(sides[side], args.workload, seed, args.seconds)
            if res is None or not res.get("correct"):
                bad += 1
                print(f"{side:<7} {seed:>4}  FAILED "
                      f"{json.dumps(res) if res else '(no result)'}")
                continue
            m = {k: res["metrics"][k]["value"] for k in METRICS}
            got[side] = m
            for k in METRICS:
                values[side][k].append(m[k])
            prep, got_steps = recorded(sides[side], args.workload, seed)
            if prep is not None:
                prepares[side].append(prep)
            for k, v in got_steps.items():
                steps[side][k].append(v)
            got_steps_of[side] = got_steps
            prep = "    n/a" if prep is None else f"{prep:7.3f}"
            print(f"{side:<7} {seed:>4}  {m['op_s.p50']:8.3f}  "
                  f"{m['setup_s']:7.3f}  {prep}  "
                  f"{ev.get('load1_before', -1):5.2f}"
                  f"/{ev.get('load1_after', -1):<5.2f}"
                  f"           {ev.get('steal_share', -1):.3f}", flush=True)
        if len(got) == 2:
            for k in METRICS:
                ratios[k].append(got["change"][k] / got["parent"][k])
            for k in step_wins:
                if all(k in got_steps_of.get(s, {}) for s in sides):
                    step_wins[k].append(change_won(
                        k, got_steps_of["change"][k],
                        got_steps_of["parent"][k]))

    summary = {}
    for k in METRICS:
        for side in sides:
            xs = values[side][k]
            if xs:
                q1, q3 = quartiles(xs)
                summary[f"{side}.{k}"] = {
                    "median": statistics.median(xs), "iqr": q3 - q1,
                    "n": len(xs)}
                print(f"{side:<7} {k:<9} median {statistics.median(xs):.3f}"
                      f"  IQR {q3 - q1:.3f}  n={len(xs)}")
        if ratios[k]:
            r = statistics.median(ratios[k])
            summary[f"ratio.{k}"] = {"median": r, "pairs": len(ratios[k]),
                                     "change_better": sum(
                                         x < 1 for x in ratios[k])}
            print(f"change/parent {k}: median ratio {r:.3f} "
                  f"({(r - 1) * 100:+.1f}%), change lower in "
                  f"{sum(x < 1 for x in ratios[k])} of {len(ratios[k])} pairs")
    for side in sides:
        if prepares[side]:
            summary[f"{side}.prepare"] = {
                "median": statistics.median(prepares[side]),
                "n": len(prepares[side])}
            print(f"{side:<7} prepare   median "
                  f"{statistics.median(prepares[side]):.3f}"
                  f"  n={len(prepares[side])}")
    for side in sides:
        for k, xs in steps[side].items():
            if xs:
                summary[f"{side}.{k}"] = {"median": statistics.median(xs),
                                          "n": len(xs)}
                print(f"{side:<7} {k:<22} median "
                      f"{statistics.median(xs):.4g}  n={len(xs)}")
    for k, wins in step_wins.items():
        if wins:
            better = "higher" if k in HIGHER_IS_BETTER else "lower"
            summary[f"wins.{k}"] = {"change_better": sum(wins),
                                    "pairs": len(wins), "better": better}
            print(f"change/parent {k}: change better ({better}) in "
                  f"{sum(wins)} of {len(wins)} pairs")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "failed_runs": bad, "summary": summary}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
