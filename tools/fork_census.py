#!/usr/bin/env python3
"""Count the child processes a JVM started, and which code started them.

  python3 tools/fork_census.py <recording.jfr>

Reads the `jdk.ProcessStart` events of a Java Flight Recorder file through
the JDK's `jfr print --json --events jdk.ProcessStart` and groups them

  - by command (the executable's base name: `chmod`, `readlink`, ...);
  - by command and caller: the first stack frame that is neither JDK code
    (java., javax., jdk., sun.) nor Hadoop's process launcher
    (org.apache.hadoop.util.Shell), e.g.
    `org.apache.hadoop.fs.RawLocalFileSystem.setPermission`.

Record a run with `-XX:StartFlightRecording=filename=<file>.jfr` (the
default settings enable the event with its stack), for example through
`JAVA_TOOL_OPTIONS` around `perfbench/run.py`. A JVM that forks a process
per checkpoint file shows here as thousands of starts from one caller.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

LAUNCHER_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.util.Shell")


def process_starts(path):
    # `jfr print` keeps 5 frames by default, too few to get past the launcher
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def caller(event):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f["method"]
        # the JSON form names types internally: java/lang/ProcessBuilder
        name = f'{m["type"]["name"].replace("/", ".")}.{m["name"]}'
        if not name.startswith(LAUNCHER_PREFIXES):
            return name
    return "(no non-JDK frame)"


def command(event):
    cmd = (event["values"].get("command") or "").split()
    return os.path.basename(cmd[0]) if cmd else "(unknown)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    args = ap.parse_args()
    events = process_starts(args.recording)
    by_cmd = collections.Counter(command(e) for e in events)
    by_caller = collections.Counter((command(e), caller(e)) for e in events)
    print(f"process starts: {len(events)}")
    print("by command:")
    for cmd, n in by_cmd.most_common():
        print(f"  {n:8d}  {cmd}")
    print("by command and caller:")
    for (cmd, who), n in by_caller.most_common():
        print(f"  {n:8d}  {cmd:12s} {who}")


if __name__ == "__main__":
    sys.exit(main())
