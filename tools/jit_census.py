#!/usr/bin/env python3
"""List a JVM's JIT compiles by class family, and how much of the host
speed probe's time they overlapped.

  python3 tools/jit_census.py <recording.jfr> [--stack-depth N] [--min-ms MS]

Reads two event types of a Java Flight Recorder file through the JDK's
`jfr print --json`:

  - `jdk.Compilation`: one event per JIT compile, with the compiled method,
    the compiler (c1/c2) and the compile's start and duration. Each compile
    is put in a class family by the compiled method's class:
    `GeneratedClass` (Spark's Janino-compiled code, e.g.
    `GeneratedClass$SpecificSafeProjection`), `graft` (this library, the
    benchmark harness included) or `other` (Spark, Scala, the JDK, ...);
  - `jdk.ExecutionSample` on the threads named `perfbench-probe` whose stack
    is in perfbench's `HostSpeed`: each such sample stands for the sampling
    period before it, and the union of those periods is the probe's sample
    windows.

It prints, per family and compiler, the compiles, their total time, those
of at least --min-ms and their time; then the probe windows' total time
and how much of it the compiles of each family (and of all) overlapped.
perfbench rescales every end-to-end time by the probe, so a probe that
shares cores with background compiles reads the host as slower than it is.

`jfr print` keeps 5 stack frames by default, too few to reach `HostSpeed`
from inside the probe's sort and hash-map work; --stack-depth (default 64)
is passed on to it.

Record with the JDK's `profile` settings, which log compiles of 100 ms and
more and sample every 10 ms (the `default` settings log only compiles of
1 s and more and sample every 20 ms; pass --period-ms 20 then), e.g.

  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=settings=profile,filename=run.jfr \\
      python3 perfbench/run.py --workload stream-paid-orders --seed 8 --seconds 30
"""
import argparse
import collections
import json
import re
import subprocess
import sys
from datetime import datetime, timezone

PROBE_THREAD = "perfbench-probe"
PROBE_CLASS = "graft.perfbench.HostSpeed"
FAMILIES = ("GeneratedClass", "graft", "other")


def events(path, kind, stack_depth):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(stack_depth),
                          "--events", kind, path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def instant_ms(text):
    """Epoch milliseconds of an ISO-8601 instant with up to nanosecond digits."""
    m = re.fullmatch(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)", text)
    base = datetime.fromisoformat(m.group(1) + ("+00:00" if m.group(3) == "Z" else m.group(3)))
    frac = float("0." + m.group(2)) if m.group(2) else 0.0
    return base.astimezone(timezone.utc).timestamp() * 1000 + frac * 1000


def duration_ms(text):
    """Milliseconds of an ISO-8601 duration as `java.time.Duration` prints it."""
    m = re.fullmatch(r"(-)?PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", text)
    sign = -1 if m.group(1) else 1
    h, mi, s = (float(g) if g else 0.0 for g in m.group(2, 3, 4))
    return sign * ((h * 60 + mi) * 60 + s) * 1000


def type_name(method):
    # the JSON form names types internally: org/apache/spark/...
    return method["type"]["name"].replace("/", ".")


def family(cls):
    if "GeneratedClass" in cls:
        return "GeneratedClass"
    return "graft" if cls.startswith("graft.") else "other"


def union(intervals):
    """Sorted, disjoint cover of (start, end) intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def overlap_ms(a, b):
    """Length of the intersection of two sorted, disjoint interval lists."""
    total, i, j = 0.0, 0, 0
    while i < len(a) and j < len(b):
        total += max(0.0, min(a[i][1], b[j][1]) - max(a[i][0], b[j][0]))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def is_probe_sample(event):
    v = event["values"]
    if (v.get("sampledThread") or {}).get("javaName") != PROBE_THREAD:
        return False
    frames = (v.get("stackTrace") or {}).get("frames") or []
    return any(type_name(f["method"]).startswith(PROBE_CLASS) for f in frames)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--stack-depth", type=int, default=64,
                    help="stack frames `jfr print` keeps per sample (default 64)")
    ap.add_argument("--min-ms", type=float, default=100.0,
                    help="compiles at least this long are counted apart (default 100)")
    ap.add_argument("--period-ms", type=float, default=10.0,
                    help="the recording's execution sampling period (default 10)")
    args = ap.parse_args()

    compiles = []
    for e in events(args.recording, "jdk.Compilation", 1):
        v = e["values"]
        start = instant_ms(v["startTime"])
        compiles.append((family(type_name(v["method"])), str(v.get("compiler")),
                         start, start + duration_ms(v["duration"])))
    probe = union((t - args.period_ms, t) for t in (
        instant_ms(e["values"]["startTime"])
        for e in events(args.recording, "jdk.ExecutionSample", args.stack_depth)
        if is_probe_sample(e)))

    rows = collections.defaultdict(lambda: [0, 0.0, 0, 0.0])
    for fam, compiler, s, e in compiles:
        r = rows[(fam, compiler)]
        r[0] += 1
        r[1] += e - s
        if e - s >= args.min_ms:
            r[2] += 1
            r[3] += e - s
    print(f"compiles: {len(compiles)}")
    print(f"  {'family':16s} {'compiler':8s} {'n':>6s} {'ms':>10s} "
          f"{'n>=' + format(args.min_ms, 'g'):>8s} {'ms':>10s}")
    for (fam, compiler), (n, ms, nl, msl) in sorted(
            rows.items(), key=lambda kv: (FAMILIES.index(kv[0][0]), kv[0][1])):
        print(f"  {fam:16s} {compiler:8s} {n:6d} {ms:10.0f} {nl:8d} {msl:10.0f}")

    window_ms = sum(e - s for s, e in probe)
    print(f"probe windows: {len(probe)}, {window_ms:.0f} ms "
          f"(threads '{PROBE_THREAD}' in {PROBE_CLASS}, {args.period_ms:g} ms per sample)")
    for fam in FAMILIES + ("all",):
        cover = union((s, e) for f, _, s, e in compiles if fam in (f, "all"))
        print(f"  overlapped by {fam:16s} compiles: {overlap_ms(cover, probe):8.0f} ms")


if __name__ == "__main__":
    sys.exit(main())
