#!/usr/bin/env python3
"""Line-count change of the main code between two git revisions.

Usage:
    python3 tools/loc.py <base> [<head>]

Compares `src/main/scala` at <base> with <head> (a revision; the working
tree when omitted, untracked files included) and prints, per changed
file and in total, the added and removed lines of each kind:

    code     a non-blank line that is not a comment line
    comment  a line whose first non-blank characters are //, /* or *
    blank    an empty or whitespace-only line

Added and removed lines come from `git diff -U0` (renames followed), so
the figures match what the diff shows. The last lines give the absolute
code / comment / blank totals of the tree at both ends. A revision git
cannot resolve prints git's error and exits with status 2.
"""
import os
import subprocess
import sys
from collections import defaultdict

ROOT = "src/main/scala"
KINDS = ("code", "comment", "blank")


def git(*args):
    """git's stdout; on failure (an unknown revision, a path given as a
    revision) print git's stderr and exit 2."""
    try:
        return subprocess.run(("git",) + args, check=True, capture_output=True,
                              text=True).stdout
    except subprocess.CalledProcessError as e:
        sys.stderr.write(e.stderr)
        sys.exit(2)


def kind(line):
    s = line.strip()
    if not s:
        return "blank"
    if s.startswith(("//", "/*", "*")):
        return "comment"
    return "code"


def diff_counts(base, head):
    """{file: {kind: [added, removed]}} from the -U0 diff base..head."""
    rng = [base] if head is None else [base, head]
    out = git("diff", "-U0", "-M", "--no-color", *rng, "--", ROOT)
    counts = defaultdict(lambda: {k: [0, 0] for k in KINDS})
    cur = None
    for line in out.splitlines():
        if line.startswith("+++ "):
            path = line[4:]
            cur = path[2:] if path.startswith("b/") else cur
        elif line.startswith("--- "):
            path = line[4:]
            if path.startswith("a/"):
                cur = path[2:]
        elif line.startswith("+") and cur:
            counts[cur][kind(line[1:])][0] += 1
        elif line.startswith("-") and cur:
            counts[cur][kind(line[1:])][1] += 1
    if head is None:  # untracked files count as wholly added
        for path in git("ls-files", "--others", "--exclude-standard", "--", ROOT).split():
            with open(path, encoding="utf-8") as f:
                for line in f.read().splitlines():
                    counts[path][kind(line)][0] += 1
    return counts


def tree_totals(rev):
    """{kind: lines} over every file under ROOT at rev (None = worktree)."""
    tot = dict.fromkeys(KINDS, 0)
    if rev is None:
        paths = git("ls-files", "--cached", "--others", "--exclude-standard",
                    "--", ROOT).split()
        texts = (open(p, encoding="utf-8").read() for p in paths if os.path.exists(p))
    else:
        paths = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split()
        texts = (git("show", f"{rev}:{p}") for p in paths)
    for text in texts:
        for line in text.splitlines():
            tot[kind(line)] += 1
    return tot


def fmt(c):
    return "  ".join(f"{k} +{a}/-{r} (net {a - r:+d})" for k, (a, r) in c.items())


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base, head = argv[1], (argv[2] if len(argv) == 3 else None)
    counts = diff_counts(base, head)
    total = {k: [0, 0] for k in KINDS}
    for path in sorted(counts):
        print(f"{path}: {fmt(counts[path])}")
        for k in KINDS:
            total[k][0] += counts[path][k][0]
            total[k][1] += counts[path][k][1]
    print(f"TOTAL: {fmt(total)}")
    before, after = tree_totals(base), tree_totals(head)
    label = head or "worktree"
    for k in KINDS:
        print(f"{k}: {before[k]} at {base} -> {after[k]} at {label} ({after[k] - before[k]:+d})")


if __name__ == "__main__":
    main(sys.argv)
