#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: catalog, stream-paid-orders (perfbench/README.md).
With --trace 0 the end-to-end metrics of BENCHMARK.json are printed, with
--trace 1 the per-layer metrics. One `name value unit` line per metric, then
a last line holding one JSON object: correct, attempted, failed, metrics.
Each result is also kept, with its settings, under perfbench/.work/results/
(or --results DIR) for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORK = os.path.join(HERE, ".work")
REFERENCE = os.path.join(HERE, "reference", "sf0.01.json")
JVM_TIMEOUT_S = 170


def source_digest():
    """Hash of the library and benchmark sources: the commit stand-in when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for f in build.sources():
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def bench_digest():
    """Hash of the benchmark's own code; compare.py refuses to pair results
    measured with different benchmark code."""
    h = hashlib.sha256()
    for base in ("src", "run.py", "build.py", "workloads.json"):
        p = os.path.join(HERE, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(p) for n in ns)
        for f in paths:
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=os.path.join(WORK, "results"),
                    help="directory that keeps the result records")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    wl = workloads[args.workload]
    for p in (build.DATA, REFERENCE):
        if not os.path.exists(p):
            sys.exit(f"perfbench: missing {p}")

    build.ensure()
    cores = len(os.sched_getaffinity(0))

    run_dir = build.fresh_dir(os.path.join(WORK, "run"))
    out = os.path.join(run_dir, "result.json")
    cmd = build.java(run_dir) + [
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", build.DATA, "--work", run_dir, "--out", out,
            "--reference", REFERENCE,
            "--queries", ",".join(wl.get("queries", [])),
            "--tables", ",".join(wl.get("tables", []))]
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"perfbench: benchmark process {'timed out' if rc is None else f'exited {rc}'}")

    with open(out) as fh:
        res = json.load(fh)
    values = dict(res["e2e"])
    values["setup_s"] = res["setup_s"]
    layers = res["layers"]
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else values
    metrics = {}
    for m in chosen:
        v = source.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            sys.exit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v} {m['unit']}")
    wrong = len(res["wrong"])
    attempted, failed = res["attempted"], res["failed"]
    extra = {"wrong_results": (wrong, "count"),
             "failure_ratio": (failed / attempted, "ratio"),
             "setup_first_s": (res["setup_runs_s"][0], "s"),
             "host_probe_ms": (res["host_probe_ms"], "ms"),
             "host_probes": (res["host_probes"], "count"),
             "raw.setup_s": (res["setup_raw_s"], "s")}
    extra.update({f"raw.{k}": (v, "s") for k, v in res["e2e_raw"].items() if k.endswith("_s")})
    extra.update({k: (v, "") for k, v in res["info"].items() if isinstance(v, (int, float))})
    for k, (v, unit) in extra.items():
        print(f"{k} {v} {unit}".rstrip())

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit": git_commit(), "source": source_digest(), "bench": bench_digest(),
        "settings": res["settings"], "setup_runs_s": res["setup_runs_s"],
        "session_runs_s": res["session_runs_s"],
        "e2e": values, "e2e_raw": res["e2e_raw"], "setup_raw_s": res["setup_raw_s"],
        "host_probe_ms": res["host_probe_ms"], "layers": layers, "attempted": attempted, "failed": failed,
        "wrong": res["wrong"], "info": res["info"], "wall_s": time.time() - t0,
    }
    results = args.results
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}_s{args.seed}_t{args.trace}_{int(time.time() * 1000)}"
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(results, stem + ".spans.json"), "w") as fh:
            json.dump(res["spans"], fh)

    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
