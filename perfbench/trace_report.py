#!/usr/bin/env python3
"""Write a workload's traced-run record: a plain and a traced run with the
same seed, the per-layer metrics, span self times and the tracing
overhead (traced minus plain value of every end-to-end metric).

    python3 perfbench/trace_report.py --workload batch --seed 1 --seconds 20

writes perfbench/results/<workload>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace):
    out = os.path.join(HERE, "results", f".{args.workload}-{trace}.tmp.json")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(trace), "--out", out],
                   check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        report = json.load(f)["report"]
    os.remove(out)
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    plain = run(args, 0)
    traced = run(args, 1)
    overhead = {}
    for name, m in plain["end_to_end"].items():
        t = traced["end_to_end"][name]["value"]
        overhead[name] = {"plain": m["value"], "traced": t, "unit": m["unit"],
                          "traced_minus_plain": t - m["value"],
                          "share": (t - m["value"]) / m["value"] if m["value"] else None}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "tracing_overhead": overhead, "plain": plain, "traced": traced}
    path = os.path.join(HERE, "results", f"{args.workload}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(path)


if __name__ == "__main__":
    main()
