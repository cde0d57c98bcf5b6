#!/usr/bin/env python3
"""Added, removed and net lines of src/main and src/test against a base commit.

Usage, from the repository root:

    python3 scripts/net_lines.py [BASE]

BASE defaults to HEAD~1. The diff runs from BASE to the working tree, so
new files count once they are staged (`git add`). Each side is split into
code lines and comment/blank lines: a line is a comment when, stripped, it
is empty or starts with `//`, `/*`, `*` or `*/` (Scala and Java doc and line
comments); every other line is code.
"""
import subprocess
import sys

TREES = ("src/main", "src/test")
KINDS = ("code", "comment/blank")


def kind(line):
    s = line.strip()
    if not s or s.startswith(("//", "/*", "*")):
        return "comment/blank"
    return "code"


def counts(base):
    diff = subprocess.run(
        ["git", "diff", "--no-color", "--no-renames", "-U0", base, "--", *TREES],
        check=True, capture_output=True, text=True).stdout
    n = {(t, k, side): 0 for t in TREES for k in KINDS for side in "+-"}
    tree = None
    for line in diff.splitlines():
        if line.startswith("diff --git "):
            path = line.split(" b/", 1)[1]
            tree = next((t for t in TREES if path.startswith(t + "/")), None)
        elif line.startswith(("+++", "---")) or tree is None:
            continue
        elif line[:1] in "+-":
            n[(tree, kind(line[1:]), line[0])] += 1
    return n


def main():
    base = sys.argv[1] if len(sys.argv) > 1 else "HEAD~1"
    n = counts(base)
    print(f"against {base}")
    print(f"{'tree':<10} {'lines':<14} {'added':>7} {'removed':>8} {'net':>7}")
    for t in TREES:
        for k in KINDS + ("all",):
            ks = KINDS if k == "all" else (k,)
            add = sum(n[(t, x, "+")] for x in ks)
            rem = sum(n[(t, x, "-")] for x in ks)
            print(f"{t:<10} {k:<14} {add:>7} {rem:>8} {add - rem:>+7}")


if __name__ == "__main__":
    main()
