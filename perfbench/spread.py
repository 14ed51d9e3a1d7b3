#!/usr/bin/env python3
"""Run one workload under several seeds and report each metric's median,
quartiles and spread (interquartile distance as a share of the median).

    python3 perfbench/spread.py --workload news_pipeline --seeds 1-10 [--trace 0]

Reads `run_seconds` from BENCHMARK.json; results are appended, one JSON
line per run, to .perfbench/spread-<workload>-trace<n>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = os.path.join(".perfbench", f"spread-{args.workload}-trace{args.trace}.jsonl")
    os.makedirs(".perfbench", exist_ok=True)
    values = {}
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        with open(out, "a") as f:
            f.write(json.dumps(dict(res, seed=seed, wall_s=wall)) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        note = f" bound {b} (spread/bound {spread / b:.2f})" if b else ""
        print(f"{k}: n={len(xs)} median={med:.5g} q1={q1:.5g} q3={q3:.5g} spread={spread:.4f}{note}")


if __name__ == "__main__":
    main()
