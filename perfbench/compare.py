#!/usr/bin/env python3
"""Paired comparison of two checkouts (parent and change) on the benchmark.

Runs this benchmark's own `run.py` against both source trees, so the
benchmark code and settings are identical on both sides: for each pair and
workload, parent and change run back to back with the same seed, and the
side that runs first alternates from pair to pair. Before every run a fixed
CPU probe is timed and recorded; it is a box-health note and gates nothing.

For every (workload, end-to-end metric) it prints each side's median and
quartiles, the change's win fraction (ties count for neither side), and a
verdict against the bound in BENCHMARK.json:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's interquartile range
  worse       the change's median is worse than the parent's by more than
              the bound (as a share of the parent's median)
  unresolved  the parent's interquartile range is wider than the bound, and
              not every change run reads better than every parent run
  unchanged   otherwise

Usage: python3 perfbench/compare.py --parent <dir> --change <dir>
           [--pairs 10] [--workloads a,b] [--seed 1000] [--out result.json]

Every run is as long as BENCHMARK.json's run_seconds, the length the
bounds were measured at.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def cpu_probe():
    """Seconds for a fixed single-threaded loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def run_once(checkout, workload, seed, seconds):
    probe = cpu_probe()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} ({workload}, seed {seed}):\n"
                         f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    return {"probe_s": probe, "correct": result["correct"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def quartiles(xs):
    return tuple(statistics.quantiles(xs, n=4))


def verdict(parent, change, better, bound):
    """(verdict, win fraction) for one metric's paired samples."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    win_frac = wins / len(parent)
    q1p, mp, q3p = quartiles(parent)
    mc = statistics.median(change)
    iqr = q3p - q1p
    worse_by = sign * (mc - mp) / mp if mp else 0.0
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if win_frac >= 0.9 and sign * (mp - mc) > iqr:
        return "improved", win_frac
    if worse_by > bound:
        return "worse", win_frac
    if mp and iqr / abs(mp) > bound and not all_better:
        return "unresolved", win_frac
    return "unchanged", win_frac


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.pairs < 10:
        raise SystemExit("at least 10 pairs")
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    workloads = args.workloads.split(",")
    runs = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                r = run_once(sides[side], w, args.seed + i, spec["run_seconds"])
                runs[w][side].append(r)
                print(f"pair {i} {w} {side}: probe {r['probe_s']:.3f} s, "
                      f"correct {r['correct']}", file=sys.stderr)
    report = {}
    for w in workloads:
        print(f"\n{w}: {args.pairs} pairs, {spec['run_seconds']} s runs")
        print(f"  {'metric':<14}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
              f"{'wins':>7}  verdict")
        report[w] = {}
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]] for r in runs[w]["parent"]]
            c = [r["metrics"][m["name"]] for r in runs[w]["change"]]
            v, win = verdict(p, c, m["better"], m["bound"])
            qp, qc = quartiles(p), quartiles(c)
            report[w][m["name"]] = {"parent": qp, "change": qc,
                                    "win_frac": win, "verdict": v}
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {m['name']:<14}{fmt(qp):>28}{fmt(qc):>28}"
                  f"{win:>7.2f}  {v} ({m['unit']}, bound {m['bound']})")
        wrong = [s for s in sides for r in runs[w][s] if not r["correct"]]
        if wrong:
            print(f"  output checks failed on: {sorted(set(wrong))}")
    probes = [r["probe_s"] for w in workloads for s in sides for r in runs[w][s]]
    med = statistics.median(probes)
    slow = sum(p > 1.3 * med for p in probes)
    print(f"\nbox health (not gating): CPU probe median {med:.3f} s, "
          f"max {max(probes):.3f} s, {slow}/{len(probes)} runs >1.3x median")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"report": report, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
