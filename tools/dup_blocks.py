#!/usr/bin/env python3
"""Report main-code lines that repeat a block seen earlier in the code.

Scans the .scala files under src/main/scala (skipping the generated-style
expression boilerplate in graft/functions), in sorted path order. A code
line is a stripped, non-blank line that does not start with //, /*, * or |
(comments and oracle-SQL margins), with runs of whitespace collapsed. Every
window of 4 consecutive code lines whose summed length is at least 100
characters is compared with the windows that came before it; a line is
repeated when it lies in such an earlier-seen window.

Prints the number of repeated lines, then each run of repeated lines with
the location of the first copy of its first window. Reports only: the exit
code is always 0.

Usage: python3 tools/dup_blocks.py [repo_root]
"""
import os
import re
import sys

WINDOW = 4
MIN_CHARS = 100
SKIP = ("//", "/*", "*", "|")


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            s = raw.strip()
            if s and not s.startswith(SKIP):
                out.append((n, re.sub(r"\s+", " ", s)))
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    base = os.path.join(root, "src", "main", "scala")
    paths = []
    for d, _, files in os.walk(base):
        for name in files:
            p = os.path.relpath(os.path.join(d, name), root)
            if name.endswith(".scala") and "graft/functions/" not in p + "/":
                paths.append(p)
    seen = {}
    runs = []
    total = 0
    for p in sorted(paths):
        lines = code_lines(os.path.join(root, p))
        rep = [None] * len(lines)
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(t for _, t in lines[i:i + WINDOW])
            if sum(len(t) for t in win) < MIN_CHARS:
                continue
            first = seen.setdefault(win, (p, lines[i][0]))
            if first != (p, lines[i][0]):
                for j in range(i, i + WINDOW):
                    if rep[j] is None:
                        rep[j] = first
        i = 0
        while i < len(lines):
            if rep[i] is None:
                i += 1
                continue
            j = i
            while j + 1 < len(lines) and rep[j + 1] is not None:
                j += 1
            runs.append((p, lines[i][0], lines[j][0], j - i + 1, rep[i]))
            total += j - i + 1
            i = j + 1
    print(total)
    for p, lo, hi, n, (fp, fl) in runs:
        print(f"{p}:{lo}-{hi} ({n} lines) first at {fp}:{fl}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
