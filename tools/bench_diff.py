#!/usr/bin/env python3
"""Round-over-round / scale-over-scale bench regression report.

Diffs two per-query bench records (the {"queries": {name: sec}} JSON line
that graft.Bench prints and writes to target/bench_<sf>.json; a file is read
from its first JSON line with a "queries" map, so a whole Bench stdout log
works too) and flags movers:

  tools/bench_diff.py OLD.json NEW.json [--flag-ratio 1.5]
      [--data-ratio 1.0] [--min-sec 0.2] [--allow name1,name2]

  --flag-ratio  flag when new/old exceeds this multiple of the expected
                ratio (default 1.5 — the judge's r-over-r threshold)
  --data-ratio  expected new/old ratio from the data-size change alone
                (1.0 for same-SF round diffs; 10 for an sf1 -> sf10
                scale check, where flagging means SUPERLINEAR)
  --min-sec     ignore queries whose OLD time is below this floor
                (sub-noise entries flap on host jitter; default 0.2)
  --allow       comma-separated names exempt from the gate (documented
                envelopes: deliberate replication / heavier candidate
                envelopes) — still printed, never fatal

Exit status: 0 when no non-exempt query is flagged, 1 otherwise, so the
report doubles as a CI-style gate.
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        for line in f:
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            q = d.get("queries") if isinstance(d, dict) else None
            if isinstance(q, dict) and q:
                return d, q
    sys.exit(f"{path}: no JSON line with a per-query map (need a Bench record)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--flag-ratio", type=float, default=1.5)
    ap.add_argument("--data-ratio", type=float, default=1.0)
    ap.add_argument("--min-sec", type=float, default=0.2)
    ap.add_argument("--allow", default="")
    a = ap.parse_args()
    allow = {s.strip() for s in a.allow.split(",") if s.strip()}

    dold, qold = load(a.old)
    dnew, qnew = load(a.new)
    shared = sorted(set(qold) & set(qnew))
    only_old = sorted(set(qold) - set(qnew))
    only_new = sorted(set(qnew) - set(qold))

    rows = []
    for name in shared:
        t0, t1 = qold[name], qnew[name]
        if t0 <= 0:
            continue
        ratio = t1 / t0
        norm = ratio / a.data_ratio  # 1.0 == exactly the expected scaling
        flagged = (norm > a.flag_ratio) and (t0 >= a.min_sec)
        rows.append((norm, ratio, t0, t1, name, flagged))
    rows.sort(reverse=True)

    tot0 = sum(qold[n] for n in shared)
    tot1 = sum(qnew[n] for n in shared)
    print(f"# bench_diff {a.old} -> {a.new}")
    print(f"# shared={len(shared)} only_old={len(only_old)} only_new={len(only_new)}"
          f" data_ratio={a.data_ratio} flag_ratio={a.flag_ratio} min_sec={a.min_sec}")
    print(f"# total (shared queries): {tot0:.2f}s -> {tot1:.2f}s "
          f"= {tot1 / tot0:.2f}x raw, {tot1 / tot0 / a.data_ratio:.2f}x vs expected")
    flagged = [r for r in rows if r[5]]
    fatal = [r for r in flagged if r[4] not in allow]
    print(f"# flagged: {len(flagged)} ({len(fatal)} non-exempt)")
    print(f"{'norm':>6} {'ratio':>7} {'old_s':>8} {'new_s':>8}  query")
    show = flagged + [r for r in rows if not r[5]][:15]
    for norm, ratio, t0, t1, name, fl in show:
        mark = "FLAG" if fl and name not in allow else ("exempt" if fl else "")
        print(f"{norm:6.2f} {ratio:7.2f} {t0:8.3f} {t1:8.3f}  {name} {mark}")
    if only_old:
        print(f"# dropped queries: {', '.join(only_old)}")
    if only_new:
        print(f"# new queries (no baseline): {', '.join(only_new)}")
    sys.exit(1 if fatal else 0)


if __name__ == "__main__":
    main()
