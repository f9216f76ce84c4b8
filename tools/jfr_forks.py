#!/usr/bin/env python3
"""Count the processes a JVM started, grouped by program and owning directory.

Usage: python3 tools/jfr_forks.py <recording.jfr> [--depth N] [--under TEXT ...]

Record a run first, for instance one benchmark workload after its build is
cached (the build's own JVMs would otherwise record too):

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr \\
        python3 perfbench/run.py --workload lake_write --seed 3 --seconds 20 --trace 0
    python3 tools/jfr_forks.py /tmp/x.jfr --under /wh/

The recording is read through `jfr print --events jdk.ProcessStart` (the
JDK's `jfr` tool must be on PATH). A process's owning directory is the
directory of the last path in its command line (a `file:` prefix dropped),
relative to the directory all such paths share and cut to its first
`--depth` components (default 4). Each `--under TEXT` adds a line that
counts the processes whose command line contains TEXT.
"""
import argparse
import collections
import os
import re
import subprocess
import sys

COMMAND = re.compile(r'^\s*command = "(.*)"\s*$')


def commands(jfr_file):
    out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", jfr_file],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    return [m.group(1) for m in map(COMMAND.match, out.splitlines()) if m]


def last_path(cmd):
    paths = [w[len("file:"):] if w.startswith("file:") else w for w in cmd.split()[1:]]
    paths = [p for p in paths if p.startswith("/")]
    return paths[-1] if paths else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--depth", type=int, default=4)
    ap.add_argument("--under", action="append", default=[])
    args = ap.parse_args()
    cmds = commands(args.recording)
    dirs = [os.path.dirname(p) if p else None for p in map(last_path, cmds)]
    known = [d for d in dirs if d]
    root = os.path.commonpath(known) if known else "/"
    groups = collections.Counter()
    for cmd, d in zip(cmds, dirs):
        program = os.path.basename(cmd.split()[0]) if cmd.split() else "?"
        if d is None:
            owner = "(no path)"
        else:
            rel = os.path.relpath(d, root)
            owner = "/".join(rel.split("/")[:args.depth]) if rel != "." else "."
        groups[(program, owner)] += 1
    print("%d process starts; directories relative to %s" % (len(cmds), root))
    for program, n in collections.Counter(os.path.basename(c.split()[0]) for c in cmds
                                          if c.split()).most_common():
        print("%7d  %s" % (n, program))
    print()
    for (program, owner), n in groups.most_common():
        print("%7d  %-10s %s" % (n, program, owner))
    for text in args.under:
        print("%7d  naming %s" % (sum(text in c for c in cmds), text))
    return 0


if __name__ == "__main__":
    sys.exit(main())
