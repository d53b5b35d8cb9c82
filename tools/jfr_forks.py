#!/usr/bin/env python3
"""Census of the processes (or threads) a JVM started, from a Java Flight Recording.

    python3 tools/jfr_forks.py <recording.jfr> [--top N] [--per N] [--threads]

Reads `jfr print --json --stack-depth 64 --events jdk.ProcessStart <file>`
and prints the process starts twice: grouped by command (path arguments
dropped, so `chmod 0644 /a/b` and `chmod 0644 /c/d` count together), and
grouped by the first `graft.` or `org.apache.spark` frame on the forking
thread's stack together with the command. Without libhadoop, Hadoop's
local filesystem forks `chmod` on every `create` (twice for a checksummed
file: the file and its `.crc`) and on every `mkdirs` of a new directory,
so this census is how the filesystem calls of a code path are counted.

Recording a perfbench run without editing perfbench:

    # one normal run first, so the harness build is cached and the
    # recording sees only the harness JVM
    python3 perfbench/run.py --workload ralf_stream --seed 1 --seconds 15 --trace 0
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/stream.jfr,settings=profile \\
        python3 perfbench/run.py --workload ralf_stream --seed 1 --seconds 15 --trace 0
    python3 tools/jfr_forks.py /tmp/stream.jfr

Each micro-batch is one sink merge. The run's `detail` line gives
`micro_batches`, the measured ones; the two warm-up batches merge in the
same JVM, so `--per <micro_batches + 2>` adds each count divided by the
merges the recording saw: forks per merge. Two untraced runs (seed 112,
15 s, 4-core host), first with Spark's default checkpoint file manager
(26 measured batches, `--per 28`):

        2647     94.5  process starts (count, per 28)
        2104     75.1  readlink     (FileContextBasedCheckpointFileManager.renameTempFile)
         526     18.8  chmod 0644   (FileContextBasedCheckpointFileManager.createTempFile)

then with graft's `CheckpointFiles` (33 measured batches, `--per 35`):

           6      0.2  process starts (count, per 35)
           4      0.1  rm -rf       (JavaUtils.deleteRecursivelyUsingUnixNative, at shutdown)

With `--threads` the census counts `jdk.ThreadStart` events instead (on
in JFR's default and profile settings, with the starting thread's stack):
grouped by the new thread's name (digits folded to `N`, so pool threads
count together) and by the first `graft.` or `org.apache.spark` frame on
the stack that started it. Short-lived pools (a thread pool per call)
show up here as thread starts per merge.
"""
import argparse
import collections
import json
import re
import shutil
import subprocess
import sys

CALLER_PREFIXES = ("graft.", "org.apache.spark")


def events(recording, kind):
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_forks: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run(
        [jfr, "print", "--json", "--stack-depth", "64", "--events", kind, recording],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command_shape(command):
    """The command with its path and URI arguments dropped."""
    return " ".join(w for w in command.split() if not w.startswith("/") and ":/" not in w) or command


def thread_shape(event):
    """The started thread's name with its digits folded to `N`."""
    name = (event["values"].get("thread") or {}).get("javaName") or "<unnamed>"
    return re.sub(r"\d+", "N", name)


def caller(event):
    """`class.method:line` of the first graft or Spark frame, else the top frame."""
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    named = []
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        named.append(f"{cls}.{m['name']}:{f.get('lineNumber', '?')}")
        if cls.startswith(CALLER_PREFIXES):
            return named[-1]
    return named[0] if named else "<no stack>"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help="a .jfr file")
    ap.add_argument("--top", type=int, default=30, metavar="N", help="rows per table (default 30)")
    ap.add_argument("--per", type=int, metavar="N",
                    help="also print each count divided by N (micro-batches)")
    ap.add_argument("--threads", action="store_true",
                    help="count thread starts (jdk.ThreadStart) instead of process starts")
    args = ap.parse_args()
    if args.per is not None and args.per <= 0:
        ap.error("--per must be positive")

    if args.threads:
        evs = events(args.recording, "jdk.ThreadStart")
        what, shape_of, label = "thread starts", thread_shape, "thread name"
    else:
        evs = events(args.recording, "jdk.ProcessStart")
        what, label = "process starts", "command"
        shape_of = lambda e: command_shape(e["values"].get("command", ""))  # noqa: E731
    by_command = collections.Counter()
    by_caller = collections.Counter()
    for e in evs:
        shape = shape_of(e)
        by_command[shape] += 1
        by_caller[(caller(e), shape)] += 1

    def count(n):
        return f"{n:8d}" + (f" {n / args.per:8.1f}" if args.per else "")

    print(f"{count(len(evs))}  {what}" + (f" (count, per {args.per})" if args.per else ""))
    print(f"\nby {label}")
    for shape, n in by_command.most_common(args.top):
        print(f"{count(n)}  {shape}")
    print(f"\nby first graft./org.apache.spark caller, {label}")
    for (frame, shape), n in by_caller.most_common(args.top):
        print(f"{count(n)}  {frame}  [{shape}]")


if __name__ == "__main__":
    main()
