#!/usr/bin/env python3
"""Fix the reference digests the batch workloads are checked against.

Runs the library's `graft.Verify` dump over the benchmark's data for every
entry the batch workloads use, checks that dump against the DuckDB oracle
with tools/check_oracle.py (it must be green), then writes one
order-insensitive digest per entry to perfbench/reference/sf0.01.json.

Usage (from the repository root): python3 perfbench/make_reference.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        names = sorted({q for w in json.load(fh).values() for q in w.get("queries", [])})
    build.ensure()
    cores = str(len(os.sched_getaffinity(0)))
    work = build.fresh_dir(os.path.join(run.WORK, "reference"))
    dump = os.path.join(work, "verify")
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names), SPARK_GRAFT_CPUS=cores,
               GRAFT_ORACLE_SPILL_DIR=os.path.join(work, "tmp"))
    subprocess.run(build.java(work) + ["graft.Verify", build.DATA, dump],
                   env=env, cwd=work, check=True)
    missing = [n for n in names if not os.path.isdir(os.path.join(dump, n))]
    if missing:
        sys.exit(f"Verify produced no result for {missing}")
    oracle = os.path.join(run.ROOT, "tools", "check_oracle.py")
    subprocess.run([sys.executable, oracle, dump, build.DATA] + names, env=env, check=True)
    subprocess.run(build.java(work) + [
        "graft.perfbench.Main", "--digest", dump, "--out", run.REFERENCE,
        "--cores", cores, "--work", work], cwd=work, check=True)
    print(f"reference digests for {len(names)} entries in {run.REFERENCE}")


if __name__ == "__main__":
    main()
