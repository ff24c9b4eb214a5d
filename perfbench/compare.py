#!/usr/bin/env python3
"""Compare benchmark result sets, or summarise one.

  python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
  python3 perfbench/compare.py RESULTS_DIR

A result set is a directory of the records perfbench/run.py writes (one
JSON file per run; by default perfbench/.work/results, or --results DIR).

With two sets, per workload and end-to-end metric: each side's median and
quartiles; the win fraction over pairs of runs made with the same seed; and
a verdict (choosing-metrics guide, section 8):
  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the parent's own quartile spread;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's spread is wider than the bound (unless every
              change run beats every parent run);
  unchanged   otherwise.
Then, from the traced runs, the per-layer medians of both sides, largest
relative change first, so a gain can be attributed to the layer that moved.
Two sets are refused when their settings (Spark conf, cores, heap, run
length, query lists, benchmark code) differ.

With one set: medians, quartiles and spread per metric against a third of
its bound, the tracing overhead (traced minus untraced end-to-end medians),
the reconciliation residual, and which count metrics repeat exactly across
the traced runs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m for m in SPEC["per_layer"]}


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            recs.append(json.load(fh))
    if not recs:
        sys.exit(f"no results in {d}")
    return recs


def settings_key(r):
    """What must match between two sets: everything but seed and commit."""
    s = dict(r["settings"])
    s.pop("seed", None)
    return json.dumps({"settings": s, "bench": r["bench"], "seconds": r["seconds"]},
                      sort_keys=True)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else 0.0


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def better(a, b, m):
    """True if value a is better than value b for metric spec m."""
    return a < b if m["better"] == "lower" else a > b


def verdict(m, parent, change, wins, pairs):
    pq1, pm, pq3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    bound = m["bound"]
    worse_by = (cm - pm) / pm if m["better"] == "lower" else (pm - cm) / pm
    if pairs and wins / pairs >= 0.9 and abs(cm - pm) > (pq3 - pq1) and better(cm, pm, m):
        return "improved"
    if worse_by > bound:
        return "worse"
    if spread(parent) > bound and not all(better(c, p, m) for c in change for p in parent):
        return "unresolved"
    return "unchanged"


def compare(parent, change):
    for wl in {r["workload"] for r in parent + change}:
        if len({settings_key(r) for r in parent + change if r["workload"] == wl}) > 1:
            sys.exit(f"refusing to compare: settings differ within workload {wl}")
    pw, cw = by_workload(parent, 0), by_workload(change, 0)
    for wl in sorted(set(pw) & set(cw)):
        P, C = pw[wl], cw[wl]
        print(f"\n== {wl}: {len(P)} parent runs, {len(C)} change runs")
        print(f"{'metric':16s} {'parent q1/med/q3':>26s} {'change q1/med/q3':>26s} {'wins':>7s}  verdict")
        cseed = {r["seed"]: r for r in C}
        for name, m in E2E.items():
            p = [r["e2e"][name] for r in P]
            c = [r["e2e"][name] for r in C]
            pairs = [(r["e2e"][name], cseed[r["seed"]]["e2e"][name]) for r in P if r["seed"] in cseed]
            wins = sum(better(cv, pv, m) for pv, cv in pairs)
            v = verdict(m, p, c, wins, len(pairs))
            fmt = lambda xs: "%8.4g %8.4g %8.4g" % quartiles(xs)
            print(f"{name:16s} {fmt(p):>26s} {fmt(c):>26s} {wins:>3d}/{len(pairs):<3d}  {v}")
        fails = sum(r["failed"] for r in C) + sum(len(r["wrong"]) for r in C)
        print(f"change: {fails} failed or wrong outputs over {len(C)} runs")
    pt, ct = by_workload(parent, 1), by_workload(change, 1)
    for wl in sorted(set(pt) & set(ct)):
        print(f"\n== {wl}: per-layer medians from traced runs "
              f"({len(pt[wl])} parent, {len(ct[wl])} change), largest change first")
        rows = []
        for name in LAYERS:
            p = statistics.median(r["layers"].get(name, 0.0) for r in pt[wl])
            c = statistics.median(r["layers"].get(name, 0.0) for r in ct[wl])
            rel = (c - p) / p if p else (0.0 if c == 0 else float("inf"))
            rows.append((abs(rel), name, p, c, rel))
        for _, name, p, c, rel in sorted(rows, reverse=True):
            if p or c:
                print(f"  {name:34s} {p:12.4g} -> {c:12.4g}  {rel:+8.1%} {LAYERS[name]['unit']}")


def summary(recs):
    untraced, traced = by_workload(recs, 0), by_workload(recs, 1)
    for wl in sorted(set(untraced) | set(traced)):
        U = untraced.get(wl, [])
        print(f"\n== {wl}: {len(U)} untraced runs, {len(traced.get(wl, []))} traced runs")
        if len({settings_key(r) for r in U + traced.get(wl, [])}) > 1:
            print("  warning: runs with different settings are mixed in this set")
        for name, m in E2E.items():
            xs = [r["e2e"][name] for r in U]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            s = spread(xs)
            ok = "ok" if name == "setup_s" or s < m["bound"] / 3 else "TOO WIDE"
            print(f"  {name:16s} q1 {q1:9.4g} med {med:9.4g} q3 {q3:9.4g} "
                  f"spread {s:6.1%} (bound/3 {m['bound'] / 3:5.1%}) {ok}")
        bad = sum(r["failed"] + len(r["wrong"]) for r in U)
        print(f"  failed or wrong outputs: {bad}")
        T = traced.get(wl, [])
        if not T:
            continue
        if U:
            print("  tracing overhead (traced median - untraced median):")
            for name in E2E:
                t = statistics.median(r["e2e"][name] for r in T)
                u = statistics.median(r["e2e"][name] for r in U)
                print(f"    {name:16s} {t - u:+9.4g} ({(t - u) / u:+.1%})")
        res = [r["layers"].get("trace.residual_ratio", 0.0) for r in T]
        print(f"  residual, pass wall time not covered by layer times: median {statistics.median(res):+.2%}")
        counts = [n for n, m in LAYERS.items() if m["unit"] == "count"]
        same = [n for n in counts if len({r["layers"].get(n) for r in T}) == 1]
        moved = [n for n in counts if n not in same]
        print(f"  count metrics equal across {len(T)} traced runs: {', '.join(same) or '-'}")
        if moved:
            print(f"  count metrics that differ: " + ", ".join(
                f"{n} {sorted({r['layers'].get(n) for r in T})}" for n in moved))


if __name__ == "__main__":
    if len(sys.argv) == 3:
        compare(load(sys.argv[1]), load(sys.argv[2]))
    elif len(sys.argv) == 2:
        summary(load(sys.argv[1]))
    else:
        sys.exit(__doc__)
