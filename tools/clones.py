#!/usr/bin/env python3
"""Report repeated N-line windows of code in src/main.

Usage: python3 tools/clones.py [N] [file-substring ...]

Reads every .scala file under src/main/scala, keeps only code lines, and
reports each group of N-line windows (default N = 5) that occurs more than
once. A line is skipped when it is blank, part of a /* ... */ or /** ... */
comment block (scaladoc), a // comment, a `|`-prefixed line of stripMargin
SQL text, or bare punctuation such as `}` or `})`. Lines compare after
trimming their indentation. Overlapping windows with the same copies merge
into one group, reported with its length in kept lines and the file:line of
each copy (the line number of its first kept line).

With file substrings given, only groups with at least two copies in the
matching files are reported (e.g. `StreamBench ScaleStress`: the repeats
inside or between those two files). Always exits 0: this is a report, not
a gate.
"""
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")


def code_lines(path):
    """(line number, trimmed text) of the lines a clone can be made of."""
    kept, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            if not line or line.startswith("//") or line.startswith("|"):
                continue
            if not re.search(r"\w", line):
                continue
            kept.append((no, line))
    return kept


def groups(n, files):
    windows = defaultdict(list)  # window text -> [(file, kept index)]
    lines = {}
    for path in files:
        rel = os.path.relpath(path, ROOT)
        kept = code_lines(path)
        lines[rel] = kept
        for i in range(len(kept) - n + 1):
            windows[tuple(t for _, t in kept[i:i + n])].append((rel, i))
    dup = {tuple(occ): w for w, occ in windows.items() if len(occ) > 1}
    # a window whose every copy starts one kept line after the copies of
    # another duplicated window continues that window's group
    out = []
    for occ in sorted(dup):
        if tuple((f, i - 1) for f, i in occ) in dup:
            continue
        length, nxt = n, tuple((f, i + 1) for f, i in occ)
        while nxt in dup:
            length += 1
            nxt = tuple((f, i + 1) for f, i in nxt)
        out.append((length, [(f, lines[f][i][0]) for f, i in occ], dup[occ][0]))
    return out


def main():
    args = sys.argv[1:]
    n = int(args.pop(0)) if args and args[0].isdigit() else 5
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(ROOT)
                   for f in fs if f.endswith(".scala"))
    found = groups(n, files)
    if args:
        found = [g for g in found
                 if sum(any(a in f for a in args) for f, _ in g[1]) >= 2]
    for length, copies, first in sorted(found, key=lambda g: (-g[0], g[1])):
        where = ", ".join(f"{f}:{line}" for f, line in copies)
        print(f"{length} lines x{len(copies)}: {where}\n    {first}")
    print(f"{len(found)} duplicate groups of {n}-line windows")


if __name__ == "__main__":
    main()
