#!/usr/bin/env python3
"""Promote a fresh full-map graft.Bench artifact to BASELINE_BENCH.json.

Usage: python3 tools/promote_baseline.py BENCH_LOCAL.json "<provenance note>"

Copies the run verbatim and attaches the `baseline` provenance block
(methodology, promotion note + date, host descriptor, gate command) so
the committed baseline self-describes. Promotion is DELIBERATE — run
this only on a clean full run (reps=5, n_errored=0) and say why in the
note (see ARCHITECTURE §8: a stale baseline lets regressions hide
inside old headroom on since-optimized queries).
"""
import datetime
import json
import os
import sys


def main():
    src, note = sys.argv[1], sys.argv[2]
    run = json.load(open(src))
    assert run.get("n_errored") == 0, f"refusing: {run.get('n_errored')} errored queries"
    assert run.get("reps", 0) >= 5, "refusing: baseline needs >= 5 reps"
    # r12 (VERDICT r11 item 1): a baseline without the workload-shaped
    # anchor leaves bench_diff's suite-wide cross-check inert on one side
    assert "calib3_sec" in run, "refusing: baseline must carry calib3_sec"
    cpu = ""
    for line in open("/proc/cpuinfo"):
        if line.startswith("model name"):
            cpu = line.split(":", 1)[1].strip()
            break
    mem_gib = 0
    for line in open("/proc/meminfo"):
        if line.startswith("MemTotal"):
            mem_gib = int(line.split()[1]) // (1024 * 1024)
            break
    # the run's parallelism: recorded by Bench (GraftSession.cpus), else
    # the same SPARK_GRAFT_CPUS-then-core-count rule Bench applies
    cpus = run.get("cpus") or os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    run["baseline"] = {
        "promoted_from": note,
        "methodology": (
            "noop-sink full materialization, 5 reps, per-query median "
            "(queries) and minimum (queries_min); calib_sec (fixed arith "
            "anchor), calib2_sec (string-md5 anchor), and calib3_sec "
            "(frozen workload-shaped anchor: md5-keyed generation + 100k-"
            "key hash-agg exchange + join — arms bench_diff's suite-wide "
            "cross-check) timed each rep round; per-query sample recorded "
            "before cache/RDD-storage cleanup (r12)"),
        "promoted_at": datetime.date.today().isoformat(),
        "host": {
            "cpu": cpu,
            "cores": os.cpu_count(),
            "mem_gib": mem_gib,
            "kernel": os.uname().release,
            "spark": f"local[{cpus}], Spark 4.1.2, Java 17",
        },
        "gate": (
            "python3 tools/bench_diff.py BASELINE_BENCH.json "
            "<new BENCH_LOCAL.json> — calib-normalizes by default (pass "
            "--no-calib-normalize to compare raw), flags per-query moves "
            "beyond threshold, exit 1 on regressions"),
    }
    with open("BASELINE_BENCH.json", "w") as f:
        json.dump(run, f)
    print(f"promoted {src} -> BASELINE_BENCH.json "
          f"(total {run['value']:.1f}s, {run['n_ok']} queries, "
          f"calib {run['calib_sec']:.4f}s)")


if __name__ == "__main__":
    main()
