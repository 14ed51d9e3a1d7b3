#!/usr/bin/env python3
"""Per-query bench regression diff (VERDICT r05 item 7; default gate r09;
self-normalization r11).

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--threshold 0.15]
(argparse: options may appear anywhere; both --threshold 0.15 and
--threshold=0.15 forms work)

The canonical regression gate is diffing against the committed baseline:

    python3 tools/bench_diff.py BASELINE_BENCH.json BENCH_LOCAL.json

Reads two BENCH_LOCAL.json-format files (the full-map artifact graft.Bench
writes), joins their per-query medians, and flags queries whose time moved
more than the threshold in either direction. Prints a summary + the flagged
table; exits 1 if any query regressed past the threshold (so the round
workflow can notice), 0 otherwise.

SELF-NORMALIZATION IS THE DEFAULT (r11, VERDICT r10 item 1): the NEW run
is rescaled by the MEDIAN per-query old/new ratio across shared queries
before diffing. Rationale: the r10 boot pair proved the single-thread
CPU anchors (calib_sec arith, calib2_sec string-md5) ANTI-correlate with
the 32-way Spark workload — same-HEAD boots read 115.0 vs 145.4 s raw
while the anchors moved 0.59x/0.45x the other way, so anchor
normalization reported a fictitious +116% suite regression on identical
code. The median per-query ratio IS workload-shaped by construction: on
same-code boots it recenters the suite to ~0% total delta, while still
flagging any query that moved relative to the rest of the suite (robust
so long as fewer than half the queries changed behavior).

The blind spot of self-normalization — a code change that shifts the
WHOLE suite uniformly — is covered by the calib3 cross-check: graft.Bench
r11+ also times a FROZEN workload-shaped anchor (md5-keyed generation, a
100k-key hash-aggregate exchange, a join back; never derived from
catalog code) each rep round. When both files carry calib3_sec and its
boot ratio disagrees with the median per-query ratio by more than 1.3x,
the diff warns that the suite-wide move is code-attributable (or the
anchor broke) instead of silently normalizing it away.
The anchors run at the session's parallelism, so the cross-check needs
both runs at the same core count: each file's parallelism is its `cpus`
field (graft.Bench records it), or, for a promoted baseline without one,
the `local[n]` of `baseline.host.spark`. When the two differ the diff says
so and skips the cross-check; per-query flags and the exit code stay.

DRIFT-DOMINATED VERDICT (r11): the r10 boot pair measured per-query
drift that is anisotropic WITHIN the workload — a 0.95x cluster (mostly
relational/scan queries) and a 1.5-3.5x cluster (string-hash/shuffle-
heavy queries) on IDENTICAL code, 49% of the suite beyond the 15%
threshold. No scalar (or per-family — membership doesn't follow table
or module boundaries) rescale can recenter such a pair, so per-query
attribution is unsound on it. The gate therefore self-classifies: when
more than --drift-fraction (default 0.25) of shared queries move beyond
the threshold in either direction — several times any code round in
this repo's history (rounds 5-10 each moved <5% of the suite) — it
prints a BOOT-DRIFT-DOMINATED verdict and exits 0 (pass --strict to
keep exit 1), directing the caller to same-boot A/B (graft.Bench on
the suspect queries, git stash/pop, per-rep min) or a baseline
re-promotion on the current boot. Note the verdict cannot distinguish
a SUITE-WIDE code/conf regression from boot drift (both move the
anchor and the suite together) — that is inherently a same-boot
question; the drift verdict says so.

--anchor-normalize restores the legacy calib-anchor rescale;
--no-normalize (alias --no-calib-normalize) compares raw wall-clock.

Round-5 motivation: shared queries inflated 30-80% between the 87-query
r04 run and the 190-query r05 run with unchanged plans, and nothing in the
repo caught it. This closes that blind spot.
"""
import argparse
import json
import re
import sys


def load(path):
    with open(path) as f:
        d = json.loads(f.read().strip())
    return d


def parallelism(d):
    """The run's Spark parallelism: `cpus` (graft.Bench records it), else
    the `local[n]` of a promoted baseline's host descriptor, else None."""
    if d.get("cpus"):
        return int(d["cpus"])
    spark = ((d.get("baseline") or {}).get("host") or {}).get("spark", "")
    m = re.search(r"local\[(\d+)\]", spark)
    return int(m.group(1)) if m else None


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main():
    p = argparse.ArgumentParser(
        description="Per-query bench regression diff")
    p.add_argument("old", help="previous BENCH_LOCAL.json")
    p.add_argument("new", help="current BENCH_LOCAL.json")
    p.add_argument("--threshold", type=float, default=0.15,
                   help="relative move to flag (default 0.15)")
    p.add_argument("--no-normalize", "--no-calib-normalize",
                   dest="no_normalize", action="store_true",
                   help="compare raw wall-clock (no rescaling)")
    p.add_argument("--anchor-normalize", action="store_true",
                   help="legacy mode: rescale the NEW run by the calib3 "
                        "(falling back to calib) anchor ratio instead of "
                        "the per-query median ratio")
    p.add_argument("--drift-fraction", type=float, default=0.25,
                   help="fraction of shared queries moving beyond the "
                        "threshold above which the diff declares itself "
                        "boot-drift dominated (default 0.25)")
    p.add_argument("--strict", action="store_true",
                   help="exit 1 on regressions even under the "
                        "boot-drift-dominated verdict")
    # accepted for backward compatibility; self-normalization is default
    p.add_argument("--calib-normalize", action="store_true",
                   help=argparse.SUPPRESS)
    ns = p.parse_args()
    thr = ns.threshold
    old, new = load(ns.old), load(ns.new)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    oc, nc = old.get("calib_sec"), new.get("calib_sec")
    oc2, nc2 = old.get("calib2_sec"), new.get("calib2_sec")
    oc3, nc3 = old.get("calib3_sec"), new.get("calib3_sec")
    op, np_ = parallelism(old), parallelism(new)
    # the anchors run at the session's parallelism, so their ratio across
    # different core counts measures the core count, not the code
    cores_differ = op is not None and np_ is not None and op != np_
    if cores_differ:
        print(f"note: parallelism differs (old local[{op}], new "
              f"local[{np_}]) — the anchors follow the core count, so the "
              "suite-wide code-attributable cross-check is skipped")
    if oc and nc:
        print(f"anchor (arith):        old {oc:.3f}s, new {nc:.3f}s "
              f"(boot ratio {nc / oc:.2f}x)")
    if oc2 and nc2:
        print(f"anchor (string-md5):   old {oc2:.3f}s, new {nc2:.3f}s "
              f"(boot ratio {nc2 / oc2:.2f}x)")
    if oc3 and nc3:
        print(f"anchor (workload):     old {oc3:.3f}s, new {nc3:.3f}s "
              f"(boot ratio {nc3 / oc3:.2f}x)")
    elif (oc3 is None) != (nc3 is None):
        print("note: only one run carries the workload anchor "
              "(calib3_sec, added r11) — suite-wide-shift cross-check "
              "unavailable")
    anisotropic = (oc and nc and oc2 and nc2 and
                   max((nc / oc) / (nc2 / oc2), (nc2 / oc2) / (nc / oc)) > 1.5)
    if anisotropic:
        print("note: the single-thread anchors moved >1.5x apart — "
              "anisotropic host drift (SMT/topology change); they are "
              "diagnostics only and do not gate (r10 finding: they "
              "anti-correlate with the 32-way workload)")

    shared = sorted(set(oq) & set(nq))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    errored = sorted(set(old.get("errors", {})) | set(new.get("errors", {})))
    if not shared:
        sys.exit("no shared queries — are these full-map BENCH_LOCAL.json "
                 "files (the driver's BENCH_rNN.json keeps only a tail)?")

    ratios = [nq[q] / oq[q] for q in shared if oq[q] > 0 and nq[q] > 0]
    med_ratio = median(ratios)
    print(f"per-query median boot ratio (new/old, {len(ratios)} shared): "
          f"{med_ratio:.3f}x")

    # suite-wide-shift cross-check: the frozen workload anchor should
    # move WITH the suite median on a pure boot change; divergence >1.3x
    # means the suite-wide component is code-attributable (or the anchor
    # broke) and self-normalization would hide it
    if oc3 and nc3 and med_ratio and not cores_differ:
        anchor_ratio = nc3 / oc3
        div = max(med_ratio / anchor_ratio, anchor_ratio / med_ratio)
        if div > 1.3:
            print(f"WARNING: suite median ratio {med_ratio:.2f}x diverges "
                  f"{div:.2f}x from the workload anchor {anchor_ratio:.2f}x "
                  "— a suite-WIDE shift is code-attributable (or the "
                  "anchor broke). Self-normalization will hide it; "
                  "re-read the raw totals below and A/B within one boot "
                  "(graft.Bench) before trusting this diff.")
        else:
            print(f"workload anchor agrees with the suite median "
                  f"({anchor_ratio:.2f}x vs {med_ratio:.2f}x) — the "
                  "suite-wide component is boot drift, not code")

    scale = 1.0
    if ns.no_normalize:
        print("normalization disabled: diffing raw wall-clock")
    elif ns.anchor_normalize:
        a_old, a_new = (oc3, nc3) if (oc3 and nc3) else (oc, nc)
        if a_old and a_new:
            scale = a_old / a_new
            print(f"anchor normalization (legacy): new-run times rescaled "
                  f"by {scale:.3f}")
        else:
            print("anchor normalization requested but no shared anchor — "
                  "diffing raw wall-clock")
    else:
        scale = 1.0 / med_ratio
        print(f"self-normalization (default): new-run times rescaled by "
              f"{scale:.3f} (median per-query boot ratio; pass "
              f"--no-normalize for raw, --anchor-normalize for legacy)")
    nq_s = {k: v * scale for k, v in nq.items()}

    regressed, improved = [], []
    for q in shared:
        a, b = oq[q], nq_s[q]
        if a <= 0:
            continue
        delta = (b - a) / a
        if delta > thr:
            regressed.append((q, a, b, delta))
        elif delta < -thr:
            improved.append((q, a, b, delta))

    tot_old = sum(oq[q] for q in shared)
    tot_raw = sum(nq[q] for q in shared)
    tot_new = sum(nq_s[q] for q in shared)
    print(f"shared queries: {len(shared)}  "
          f"(old-only {len(only_old)}, new-only {len(only_new)})")
    print(f"shared-subset total RAW:        {tot_old:.1f}s -> {tot_raw:.1f}s "
          f"({(tot_raw - tot_old) / tot_old * 100:+.1f}%)")
    if scale != 1.0:
        print(f"shared-subset total normalized: {tot_old:.1f}s -> "
              f"{tot_new:.1f}s ({(tot_new - tot_old) / tot_old * 100:+.1f}%)")
    if errored:
        print(f"errored in either run (excluded by Bench): {', '.join(errored)}")

    def table(title, rows):
        if not rows:
            return
        print(f"\n{title} (>{thr:.0%}):")
        for q, a, b, d in sorted(rows, key=lambda r: -abs(r[3])):
            print(f"  {q:40s} {a:7.2f}s -> {b:7.2f}s  {d * 100:+6.1f}%")

    table("REGRESSED", regressed)
    table("improved", improved)
    if not regressed and not improved:
        print(f"no per-query move beyond {thr:.0%}")

    moved_frac = (len(regressed) + len(improved)) / len(shared)
    if moved_frac > ns.drift_fraction:
        print(f"\nVERDICT: BOOT-DRIFT DOMINATED — {moved_frac:.0%} of the "
              f"shared suite moved beyond {thr:.0%} (code rounds in this "
              "repo historically move <5%). Per-query attribution on this "
              "pair is unsound: measured cross-boot drift is anisotropic "
              "within the workload (r10 pair: ~0.95x for scan/relational "
              "queries, 1.5-3.5x for string-hash/shuffle queries, same "
              "code), so no rescale can recenter it. Action: judge any "
              "specific suspicion with same-boot A/B (graft.Bench on "
              "the suspect queries, stash/pop, per-rep min), or re-run "
              "the baseline on THIS boot and re-promote. A suite-WIDE "
              "code/conf regression is "
              "indistinguishable from boot drift here — also a same-boot "
              "question.")
        sys.exit(1 if (ns.strict and regressed) else 0)
    if regressed:
        print(f"\nVERDICT: {len(regressed)} code-attributable "
              f"regression candidate(s) ({moved_frac:.0%} of suite moved "
              "— below the drift bound, so attribution is meaningful)")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
