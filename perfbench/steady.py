#!/usr/bin/env python3
"""Steadiness report: the same code run as two alternating sets of seeds.

    python3 perfbench/steady.py --workload ingest [--runs 5] [--first-seed 1]

Set A takes seeds first..first+runs-1 and set B the next runs seeds; the
runs alternate A, B, A, B, ... For each end-to-end metric it prints each
set's median and quartiles, the spread (quartile distance over median) of
all runs together, and whether the two medians agree within the metric's
bound from BENCHMARK.json. Raw results go to .bench_build/steady/.
Stdlib only; run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(metric, base, other):
    """Share by which other is worse than base (negative when better)."""
    if metric["better"] == "higher":
        return (base - other) / base
    return (other - base) / base


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit("run failed: workload %s seed %d (exit %d)" % (workload, seed, r.returncode))
    prov = json.loads(lines[-2])["provenance"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), prov


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for name, offset in (("A", 0), ("B", a.runs)):
            seed = a.first_seed + offset + i
            res, prov = run_once(a.workload, seed, bench["run_seconds"])
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            sets[name].append({"seed": seed, "metrics": vals, "correct": res["correct"],
                               "steal_share": prov.get("steal_share"),
                               "loadavg_mean": prov.get("loadavg_mean"),
                               "batches": prov.get("batches")})
            print("%s seed %3d  %s  steal %.3f" % (
                name, seed, "  ".join("%s=%.4g" % (k, v) for k, v in vals.items()),
                prov.get("steal_share") or 0.0), flush=True)

    os.makedirs(os.path.join(".bench_build", "steady"), exist_ok=True)
    with open(os.path.join(".bench_build", "steady", a.workload + ".json"), "w") as f:
        json.dump(sets, f, indent=1)

    print("\n%-14s %-32s %-32s %7s %7s %6s  %s" % (
        "metric", "A median [q1, q3]", "B median [q1, q3]", "spread", "A->B", "bound", "verdict"))
    ok = True
    for m in metrics:
        xa = [r["metrics"][m["name"]] for r in sets["A"]]
        xb = [r["metrics"][m["name"]] for r in sets["B"]]
        qa, qb = quartiles(xa), quartiles(xb)
        s = spread(xa + xb)
        moved = worse_by(m, qa[1], qb[1])
        agree = abs(moved) <= m["bound"]
        steady = s <= m["bound"]
        ok = ok and agree and steady
        print("%-14s %-32s %-32s %7.3f %+7.3f %6.2f  %s" % (
            m["name"], "%.4g [%.4g, %.4g]" % (qa[1], qa[0], qa[2]),
            "%.4g [%.4g, %.4g]" % (qb[1], qb[0], qb[2]), s, moved, m["bound"],
            ("agree" if agree else "DISAGREE") + ("" if steady else ", SPREAD > bound")
            + (" (spread < bound/3)" if s < m["bound"] / 3 else "")))
    print("\nall correct: %s" % all(r["correct"] for v in sets.values() for r in v))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
