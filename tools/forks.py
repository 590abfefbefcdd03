#!/usr/bin/env python3
"""Tally the processes a JVM forked, from a JFR recording.

Reads the recording's `jdk.ProcessStart` events through
`jfr print --json --stack-depth 40 --events jdk.ProcessStart <file>` and
counts them twice: by command (the forked program's name) and by caller,
the first stack frame outside the JDK and Hadoop, which names the code
that asked Hadoop for the file operation behind the fork.

Usage: python3 tools/forks.py <recording.jfr>
Prints `<count> <command>` lines, then `<count> <caller>` lines, then
`<total> total`.
"""
import collections
import json
import os
import subprocess
import sys

SKIP = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "40",
         "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(ev):
    words = (ev["values"].get("command") or "?").split()
    return os.path.basename(words[0]) if words else "?"


def caller(ev):
    trace = ev["values"].get("stackTrace") or {}
    for frame in trace.get("frames") or []:
        cls = frame["method"]["type"]["name"].replace("/", ".")
        if not cls.startswith(SKIP):
            return f"{cls}.{frame['method']['name']}"
    return "(JDK/Hadoop only" + (", truncated)" if trace.get("truncated") else ")")


def main(path):
    evs = events(path)
    for tally in (collections.Counter(map(command, evs)),
                  collections.Counter(map(caller, evs))):
        for key, n in tally.most_common():
            print(f"{n:6d} {key}")
        print()
    print(f"{len(evs):6d} total")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
