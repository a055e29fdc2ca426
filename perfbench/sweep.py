#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/sweep.py --out DIR [--workloads a,b] [--seeds 1-10] [--trace 0]

Run from the repository root. Each run's artifact is copied to
DIR/<workload>-s<seed>-t<trace>.json and its printed result line appended to
DIR/lines.jsonl; DIR is then one "set of runs" for perfbench/compare.py. The
spread of a metric is the distance between the first and third quartile of
its values over the seeds, as a share of their median.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds_of(args.seeds):
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                   str(args.seconds), "--trace", str(args.trace)],
                               capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            with open(os.path.join(args.out, "lines.jsonl"), "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "rc": p.returncode, "line": line}) + "\n")
            if p.returncode != 0 or not line:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(line)
            if not res["correct"]:
                print(f"{w} seed {seed}: NOT CORRECT {p.stderr[-2000:]}", file=sys.stderr)
            art = os.path.join(".bench_build", "perfbench", "results", f"{w}-s{seed}-t{args.trace}.json")
            if os.path.exists(art):
                shutil.copy(art, os.path.join(args.out, os.path.basename(art)))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            s = spread(vs)
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if s < b / 3 else ("within bound" if s <= b else "OVER BOUND"))
            print(f"{w:14s} {k:20s} n={len(vs):2d} median={statistics.median(vs):.5g} "
                  f"spread={s:.4f} bound={b} {flag}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
