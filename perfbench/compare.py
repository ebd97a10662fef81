#!/usr/bin/env python3
"""Layer-by-layer diff of two benchmark result sets.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--top 8]

Each directory holds the per-run result files that perfbench/run.py
writes to .bench_build/perfbench/results/ (<workload>-s<seed>-t<trace>.json),
for the parent commit and for the change. Per workload the report gives:

- each end-to-end metric's median and quartiles on both sides, the
  share of seed-paired runs the change wins, and a verdict against the
  metric's bound in BENCHMARK.json: "regressed", "improved", "within
  bound", or "unresolved" where a side's quartile spread exceeds the
  bound and the change does not win every pairing;
- the per-layer metrics (traced runs) that moved most, and the keys
  whose traced time moved most, which locate the layer behind a move.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(directory):
    """{(workload, trace): {seed: result}} for every result file."""
    runs = {}
    for path in glob.glob(os.path.join(directory, "*-s*-t[01].json")):
        with open(path) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], int(r["trace"])), {})[r["seed"]] = r
    return runs


def win_rate(parent, change, better):
    """Share of seed-paired runs where the change reads better; ties
    count for neither side."""
    seeds = sorted(set(parent) & set(change))
    if not seeds:
        return None
    sign = 1 if better == "lower" else -1
    wins = sum(1 for s in seeds if sign * (parent[s] - change[s]) > 0)
    return wins / len(seeds)


def verdict(parent, change, better, bound):
    """Judges one metric from its per-seed values on both sides."""
    p, c = list(parent.values()), list(change.values())
    pm, cm = stats.median(p), stats.median(c)
    worse = (cm - pm) / pm if better == "lower" else (pm - cm) / pm
    rate = win_rate(parent, change, better)
    sign = 1 if better == "lower" else -1
    every_run_better = all(sign * (x - y) > 0 for x in p for y in c)
    if worse > bound:
        return "regressed"
    if max(stats.spread(p), stats.spread(c)) > bound and not every_run_better:
        return "unresolved"
    q1, _, q3 = stats.quartiles(p)
    if rate is not None and rate >= 0.9 and abs(cm - pm) > q3 - q1 and worse < 0:
        return "improved"
    return "within bound"


def fmt(v):
    return "%.4g" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    workloads = sorted({w for w, _ in parent} & {w for w, _ in change})
    if not workloads:
        sys.exit("no workload has results on both sides")
    for w in workloads:
        print("== %s" % w)
        pe, ce = parent.get((w, 0), {}), change.get((w, 0), {})
        if pe and ce:
            print("%-14s %-28s %-28s %-6s %s" % (
                "metric", "parent q1/median/q3", "change q1/median/q3", "wins", "verdict"))
            for m in spec["end_to_end"]:
                n = m["name"]
                pv = {s: r["metrics"][n] for s, r in pe.items()}
                cv = {s: r["metrics"][n] for s, r in ce.items()}
                rate = win_rate(pv, cv, m["better"])
                print("%-14s %-28s %-28s %-6s %s" % (
                    n, "/".join(fmt(x) for x in stats.quartiles(list(pv.values()))),
                    "/".join(fmt(x) for x in stats.quartiles(list(cv.values()))),
                    "-" if rate is None else "%.2f" % rate,
                    verdict(pv, cv, m["better"], m["bound"])))
        pt, ct = parent.get((w, 1), {}), change.get((w, 1), {})
        if pt and ct:
            deltas = []
            for m in spec["per_layer"]:
                n = m["name"]
                pm = stats.median([r["metrics"][n] for r in pt.values()])
                cm = stats.median([r["metrics"][n] for r in ct.values()])
                rel = (cm - pm) / abs(pm) if pm else (0.0 if cm == pm else float("inf"))
                deltas.append((abs(rel), n, pm, cm, rel))
            print("-- per-layer medians that moved most (traced runs)")
            for _, n, pm, cm, rel in sorted(deltas, reverse=True)[:args.top]:
                print("   %-30s %12s -> %-12s %+.1f%%" % (n, fmt(pm), fmt(cm), 100 * rel))
            keys = {}
            for side, runs in (("p", pt), ("c", ct)):
                for r in runs.values():
                    for k, row in (r.get("per_key") or {}).items():
                        keys.setdefault(k, {"p": [], "c": []})[side].append(row)
            moved = []
            for k, rows in keys.items():
                if rows["p"] and rows["c"]:
                    def med(f, side):
                        return stats.median([x[f] for x in rows[side]])
                    d = med("key_s", "c") - med("key_s", "p")
                    parts = {f: med(f, "c") - med(f, "p")
                             for f in ("construct_s", "analyze_s", "optimize_s",
                                       "physical_s", "action_s", "task_s", "jobs")}
                    moved.append((abs(d), k, d, parts))
            print("-- keys whose traced time moved most (change - parent)")
            for _, k, d, parts in sorted(moved, reverse=True)[:args.top]:
                print("   %-22s key %+.3fs  " % (k, d) + "  ".join(
                    "%s %+.3f" % (f, v) for f, v in parts.items()))


if __name__ == "__main__":
    main()
