#!/usr/bin/env python3
"""Diff two traced runs' per-layer ledgers (stdlib only).

    python3 perfbench/ledger_diff.py BASE.json NEW.json [--all]

The ledgers are the files `run.py --trace 1` writes under
.bench_build/ledger/. Metrics are grouped by layer (the name before the
first dot). Counts are compared exactly; times, sizes and shares are shown
as the new/base ratio next to the base value. Span self times (span minus
the part its child spans cover) are diffed per span name the same way.
Rows that did not change are hidden unless --all is given.
"""
import argparse
import json
import statistics
import sys

COUNT_UNITS = ("count",)


def load(path):
    with open(path) as f:
        return json.load(f)


def units():
    try:
        with open("BENCHMARK.json") as f:
            return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    except (OSError, ValueError, KeyError):
        return {}


def is_count(name, unit_of):
    return unit_of.get(name) in COUNT_UNITS


def fmt(x):
    return "%.6g" % x


def span_self(ledger):
    """Median self time per batch, per span name."""
    per = {}
    for s in ledger.get("spans", []):
        per.setdefault(s["name"], {}).setdefault(s["batch"], 0.0)
        per[s["name"]][s["batch"]] += s["self_s"]
    return {n: statistics.median(b.values()) for n, b in per.items()}


def diff_rows(base, new, count_names, show_all):
    rows = []
    for k in sorted(set(base) | set(new)):
        b, n = base.get(k), new.get(k)
        if b is None or n is None:
            rows.append((k, "absent" if b is None else fmt(b), "absent" if n is None else fmt(n), "added" if b is None else "removed"))
            continue
        if k in count_names:
            same = b == n
            if same and not show_all:
                continue
            rows.append((k, fmt(b), fmt(n), "same" if same else "%+g" % (n - b)))
        else:
            if b == n and not show_all:
                continue
            ratio = (n / b) if b else float("inf") if n else 1.0
            rows.append((k, fmt(b), fmt(n), "x%.3f of %s" % (ratio, fmt(b))))
    return rows


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--all", action="store_true", help="show unchanged rows too")
    a = ap.parse_args(argv)
    base, new = load(a.base), load(a.new)
    pb, pn = base.get("provenance", {}), new.get("provenance", {})
    print("base: %s seed %s  head %s  steal %.3f  load %.2f" % (
        pb.get("workload"), pb.get("seed"), pb.get("git_head"),
        pb.get("steal_share", 0), pb.get("loadavg_mean", 0)))
    print("new:  %s seed %s  head %s  steal %.3f  load %.2f" % (
        pn.get("workload"), pn.get("seed"), pn.get("git_head"),
        pn.get("steal_share", 0), pn.get("loadavg_mean", 0)))
    if pb.get("workload") != pn.get("workload"):
        print("warning: the ledgers are of different workloads")

    unit_of = units()
    counts = {k for k in set(base["metrics"]) | set(new["metrics"]) if is_count(k, unit_of)}
    layers = {}
    for row in diff_rows(base["metrics"], new["metrics"], counts, a.all):
        layers.setdefault(row[0].split(".")[0], []).append(row)
    for layer in sorted(layers):
        print("\n[%s]" % layer)
        for name, b, n, d in layers[layer]:
            print("  %-26s %14s %14s   %s" % (name, b, n, d))

    spans = diff_rows(span_self(base), span_self(new), set(), a.all)
    if spans:
        print("\n[span self time, s, median per batch]")
        for name, b, n, d in spans:
            print("  %-26s %14s %14s   %s" % (name, b, n, d))


if __name__ == "__main__":
    main(sys.argv[1:])
