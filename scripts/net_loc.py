#!/usr/bin/env python3
"""Net lines of code of a change, per source tree.

Usage: python3 scripts/net_loc.py BASE

Runs `git diff --numstat BASE` (BASE against the working tree: commits
and tracked edits since BASE; stage new files first, e.g. `git add -A`,
or they are not counted) and prints lines added, lines removed and the
net for the main Scala sources, the test Scala sources and the benchmark
tree. Binary files count as zero. Reads only; changes nothing.
"""
import subprocess
import sys

TREES = ("src/main/scala", "src/test/scala", "perfbench")


def numstat(base):
    out = subprocess.run(["git", "diff", "--numstat", base],
                         check=True, capture_output=True, text=True).stdout
    for line in out.splitlines():
        added, removed, path = line.split("\t", 2)
        # a rename prints "old => new" (or "dir/{old => new}"); count it
        # under the new path
        if " => " in path:
            path = path.replace("{", "").replace("}", "").split(" => ")[-1]
        yield (0 if added == "-" else int(added),
               0 if removed == "-" else int(removed), path)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    totals = {t: [0, 0] for t in TREES}
    for added, removed, path in numstat(argv[1]):
        for t in TREES:
            if path == t or path.startswith(t + "/"):
                totals[t][0] += added
                totals[t][1] += removed
    print(f"{'tree':<16}{'added':>8}{'removed':>9}{'net':>8}")
    for t in TREES:
        a, r = totals[t]
        print(f"{t:<16}{a:>8}{r:>9}{a - r:>+8}")


if __name__ == "__main__":
    main(sys.argv)
