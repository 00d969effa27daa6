#!/usr/bin/env python3
"""Write a per-layer record: untraced runs of every workload (their
named end-to-end metrics), one traced run (per-layer metrics, tracing
overhead, one operation's spans per workload).

    python3 perfbench/record.py --out perfbench/records/<name>.json \
        [--seeds 1,2,3] [--seconds 20]

Run from the repository root. The tracing overhead of workload w is the
traced run's trace.overhead.<w>: its traced loop's median operation
latency over the untraced loop's just before it, minus one.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["hello_world_train", "lineitem_selective_read",
             "orders_cdc_cycle"]


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py failed for {workload} seed {seed}:\n{r.stderr[-2000:]}")
    last = json.loads(r.stdout.strip().splitlines()[-1])
    tag = f"{workload}-seed{seed}-trace{trace}"
    with open(os.path.join(HERE, "out", f"{tag}.json")) as fh:
        return last, json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]

    untraced = {}
    for w in WORKLOADS:
        runs = [run(w, s, args.seconds, 0) for s in seeds]
        named = {}
        for last, full in runs:
            if not last["correct"]:
                sys.exit(f"{w}: a run failed its correctness checks")
            for k, m in full["workloads"][0]["named"].items():
                named.setdefault(k, {"unit": m["unit"], "values": []})
                named[k]["values"].append(m["value"])
            for k, m in full["workloads"][0]["e2e"].items():
                named.setdefault(k, {"unit": m["unit"], "values": []})
                named[k]["values"].append(m["value"])
        for m in named.values():
            m["median"] = statistics.median(m["values"])
        untraced[w] = {"seeds": seeds, "metrics": named,
                       "evidence": [full["evidence"] for _, full in runs]}

    last, full = run(WORKLOADS[0], seeds[0], args.seconds, 1)
    if not last["correct"]:
        sys.exit("the traced run failed its correctness checks")
    layers = last["metrics"]
    overhead = {w: layers[f"trace.overhead.{w}"]["value"] for w in WORKLOADS}
    # one operation's spans per workload, as an example of the trace
    example = {}
    spans_file = os.path.join(HERE, "out",
                              f"{WORKLOADS[0]}-seed{seeds[0]}-trace1.json.spans.jsonl")
    if os.path.exists(spans_file):
        with open(spans_file) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
        for w in WORKLOADS:
            mine = [s for s in spans if s["group"] == w]
            if mine:
                first = min(s["op"] for s in mine)
                op = [s for s in mine if s["op"] == first]
                t0 = min(s["start_ns"] for s in op)
                example[w] = [{"id": s["id"], "parent": s["parent"],
                               "name": s["name"], "layer": s["layer"],
                               "start_s": (s["start_ns"] - t0) / 1e9,
                               "end_s": (s["end_ns"] - t0) / 1e9}
                              for s in sorted(op, key=lambda s: s["start_ns"])]
    record = {
        "example_spans": example,
        "untraced": untraced,
        "traced": {"seed": seeds[0], "seconds": args.seconds,
                   "evidence": full["evidence"], "spans": full["spans"],
                   "per_layer": layers},
        "tracing_overhead": overhead,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(overhead, indent=1))


if __name__ == "__main__":
    main()
